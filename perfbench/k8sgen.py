"""Seeded Kubernetes snapshot generator, the answer model of the ksql
query mix, and the response checker.

Every object is a copy of one of the fixture items in
src/test/resources/k8s (read, never written), with names, uids,
placement, images and annotations drawn from a seeded RNG. The expected
answer of each query is computed from the generator's own model, never
from Spark.
"""
import copy
import json
import random
from collections import Counter
from pathlib import Path

# (image, weight): a third of the containers run a mysql% image, so README
# queries 3 and 4 return thousands of rows on a 20k-pod snapshot
IMAGES = [("mysql:5.5", 12), ("mysql:5.7", 10), ("mysql-tools:1.0", 6),
          ("nginx:1.9", 24), ("busybox:1.24", 16), ("redis:3.0", 12),
          ("postgres:9.5", 12), ("memcached:1.4", 8)]
NAMESPACES = ["default", "db", "web", "jobs", "monitoring", "kube-system"]
APPS = ["mysql", "web", "batch", "cache", "api", "worker", "metrics"]

# The query mix: the four README queries verbatim, a group-by-node count,
# and a point lookup by uid ({uid} is filled per request).
QUERIES = {
    "q1_count_like":
        "select count(*) from containers where containers.image like 'mysql%'",
    "q2_group_image":
        "select count(*),image from containers where containers.image like "
        "'mysql%' group by image",
    "q3_join_arrow":
        "select pods.metadata->name,pods.metadata->annotations->email,image "
        "from pods join containers using uid where image like 'mysql:5.5%'",
    "q4_left_join_not":
        "select pods.metadata->name,image from pods left join containers "
        "using uid where image like 'mysql%' and not "
        "pods.metadata->annotations->email",
    "q5_group_node": "select node, count(*) from pods group by node",
    "q6_uid_lookup":
        "select metadata->name, node from pods where uid = '{uid}'",
}
HEADERS = {
    "q1_count_like": ["count(1)"],
    "q2_group_image": ["count(1)", "image"],
    "q3_join_arrow": ["name", "email", "image"],
    "q4_left_join_not": ["name", "image"],
    "q5_group_node": ["node", "count(1)"],
    "q6_uid_lookup": ["name", "node"],
}


def _load_items(fixtures: Path, kind: str):
    with open(fixtures / f"{kind}.json") as f:
        return json.load(f)["items"]


def _weighted(rng, pairs):
    return rng.choices([p for p, _ in pairs], weights=[w for _, w in pairs])[0]


class Generator:
    """Builds generation 0 of a snapshot and churned copies of it."""

    def __init__(self, fixtures: Path, pods: int, seed: int):
        self.rng = random.Random(seed)
        self.seed = seed
        self.pod_tpl = _load_items(fixtures, "pods")
        self.node_tpl = _load_items(fixtures, "nodes")
        self.svc_tpl = _load_items(fixtures, "services")
        self.n_pods = pods
        self.nodes = [self._node(i) for i in range(max(3, pods // 50))]
        self.services = [self._service(i) for i in range(max(2, pods // 20))]
        self.next_pod = 0

    def _node(self, i):
        n = copy.deepcopy(self.rng.choice(self.node_tpl))
        n["metadata"]["name"] = f"node-{i:04d}"
        n["metadata"]["uid"] = f"node-uid-{self.seed}-{i:04d}"
        return n

    def _service(self, i):
        s = copy.deepcopy(self.rng.choice(self.svc_tpl))
        app = self.rng.choice(APPS)
        s["metadata"]["name"] = f"{app}-svc-{i:04d}"
        s["metadata"]["uid"] = f"svc-uid-{self.seed}-{i:05d}"
        s["metadata"]["namespace"] = self.rng.choice(NAMESPACES)
        s["metadata"]["labels"] = {"app": app}
        s["spec"]["selector"] = {"app": app}
        return s

    def pod(self):
        rng, i = self.rng, self.next_pod
        self.next_pod += 1
        p = copy.deepcopy(rng.choice(self.pod_tpl))
        app = rng.choice(APPS)
        md = p["metadata"]
        md["name"] = f"{app}-{i:06d}"
        md["uid"] = f"pod-uid-{self.seed}-{i:06d}"
        md["namespace"] = rng.choice(NAMESPACES)
        md["labels"] = {"app": app}
        r = rng.random()
        if r < 0.45:
            md["annotations"] = {"email": f"team{rng.randrange(50)}@example.com"}
        elif r < 0.60:
            md["annotations"] = {"email": ""}
        elif r < 0.90:
            md["annotations"] = {"owner": app}
        else:
            md.pop("annotations", None)
        if rng.random() < 0.02:
            p["spec"].pop("nodeName", None)  # unscheduled
        else:
            p["spec"]["nodeName"] = rng.choice(self.nodes)["metadata"]["name"]
        images = [_weighted(rng, IMAGES) for _ in range(rng.choice([1, 1, 1, 2, 2, 3]))]
        p["spec"]["containers"] = [{"name": f"c{j}", "image": im}
                                   for j, im in enumerate(images)]
        if rng.random() < 0.08:
            p["status"] = {"phase": "Pending"}
        else:
            statuses = []
            for j in range(len(images)):
                st = {"name": f"c{j}", "ready": True}
                if rng.random() < 0.9:
                    st["restartCount"] = rng.randrange(6)
                statuses.append(st)
            p["status"] = {"phase": "Running", "containerStatuses": statuses}
        return p

    def generations(self, churn: float):
        """Generation 0 and a copy with `churn` of the pods replaced (half
        deleted, as many new ones added)."""
        gen0 = [self.pod() for _ in range(self.n_pods)]
        k = max(1, round(self.n_pods * churn / 2))
        gone = set(self.rng.sample(range(self.n_pods), k))
        gen1 = [p for i, p in enumerate(gen0) if i not in gone] + \
            [self.pod() for _ in range(k)]
        return gen0, gen1

    def write(self, pods, out: Path):
        out.mkdir(parents=True, exist_ok=True)
        for kind, items in (("pods", pods), ("nodes", self.nodes),
                            ("services", self.services)):
            with open(out / f"{kind}.json", "w") as f:
                json.dump({"kind": kind.capitalize()[:-1] + "List",
                           "apiVersion": "v1", "items": items}, f)


class Model:
    """Expected answers of the query mix on one generation's pods."""

    def __init__(self, pods):
        self.by_uid = {}
        containers = []  # (pod name, email, image)
        for p in pods:
            md = p["metadata"]
            email = (md.get("annotations") or {}).get("email")
            node = p["spec"].get("nodeName")
            self.by_uid[md["uid"]] = (md["name"], node)
            for c in p["spec"]["containers"]:
                containers.append((md["name"], email, c["image"]))
        mysql = [c for c in containers if c[2].startswith("mysql")]
        self.fixed = {
            "q1_count_like": Counter([(len(mysql),)]),
            "q2_group_image": Counter(
                (n, im) for im, n in Counter(c[2] for c in mysql).items()),
            "q3_join_arrow": Counter(
                c for c in containers if c[2].startswith("mysql:5.5")),
            "q4_left_join_not": Counter(
                (name, im) for name, email, im in mysql if not email),
            "q5_group_node": Counter(
                (node, n) for node, n in
                Counter(v[1] for v in self.by_uid.values()).items()),
        }

    def answer(self, qid: str, uid: str = None) -> Counter:
        if qid == "q6_uid_lookup":
            hit = self.by_uid.get(uid)
            return Counter([hit] if hit else [])
        return self.fixed[qid]


def check(body: bytes, qid: str, uid, models) -> bool:
    """True iff `body` is the `{headers, data}` answer of query `qid` on
    one of `models` (compared as a multiset of rows)."""
    try:
        doc = json.loads(body)
        got = Counter(tuple(r) for r in doc["data"])
    except (ValueError, KeyError, TypeError):
        return False
    if doc.get("headers") != HEADERS[qid]:
        return False
    return any(got == m.answer(qid, uid) for m in models)


def render(qid: str, rows) -> bytes:
    """A response body in the server's wire shape (used by the self-test)."""
    return json.dumps({"headers": HEADERS[qid], "data": [list(r) for r in rows]}).encode()


def selftest(fixtures: Path) -> list:
    """Feeds correct and corrupted answers through `check`. Returns the
    list of problems; empty means the checker catches every corruption."""
    g = Generator(fixtures, pods=60, seed=7)
    gen0, gen1 = g.generations(churn=0.1)
    m0, m1 = Model(gen0), Model(gen1)
    only_in_1 = next(u for u in m1.by_uid if u not in m0.by_uid)
    probs = []
    for qid in QUERIES:
        uid = only_in_1 if qid == "q6_uid_lookup" else None
        good = sorted(m1.answer(qid, uid).elements(), key=repr)
        cases = {"correct": (render(qid, good), True)}
        if qid != "q1_count_like" and good:
            cases["row dropped"] = (render(qid, good[1:]), False)
            cases["row duplicated"] = (render(qid, good + good[:1]), False)
        if good:
            bad = [list(r) for r in good]
            v = bad[0][-1]
            bad[0][-1] = v + 1 if isinstance(v, int) else f"{v}x"
            cases["value changed"] = (render(qid, bad), False)
        if m0.answer(qid, uid) != m1.answer(qid, uid):
            cases["other generation"] = (render(qid, sorted(
                m0.answer(qid, uid).elements(), key=repr)), False)
        cases["not json"] = (b"error: boom", False)
        for name, (body, want) in cases.items():
            if check(body, qid, uid, [m1]) != want:
                probs.append(f"{qid}: {name}")
        if check(render(qid, good), qid, uid, [m0, m1]) is not True:
            probs.append(f"{qid}: either generation rejected")
    return probs

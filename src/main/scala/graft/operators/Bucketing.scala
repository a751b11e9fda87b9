package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table helpers + ATOMIC VERSIONED INDEX PUBLICATION (no
  * reference counterpart; pure scale tooling).
  *
  * At 100 TB the dominant cost of a fact⋈fact equi-join is shuffling both
  * sides. Writing the tables bucketed by the join key (same bucket count
  * both sides) lets Spark plan a sort-merge join with ZERO Exchange — the
  * co-location is established once at write time and reused by every
  * subsequent join/aggregation on that key. `BucketingSpec` proves the
  * Exchange disappears from the physical plan.
  *
  * PUBLICATION CONTRACT (r12 verdict item 1 — replaces the r10/r11
  * single-writer DROP+rewrite): every persisted index family (IVFPQ
  * vectors, dedup band postings, BM25 text postings) publishes through
  * [[publish]]:
  *
  *   1. every table of the family is written under a GENERATION suffix
  *      (`graft_text_postings__g7`) while the manifest still points at
  *      the prior generation — a crash mid-write leaves the serving
  *      generation untouched;
  *   2. the manifest — one pointer FILE per family under
  *      `<warehouse>/graft_manifest/` — is swapped LAST by an atomic
  *      rename (`Files.move(..., ATOMIC_MOVE)`), so a reader resolves
  *      old-or-new, never a mix: all tables of a family flip together
  *      (postings+stats, lists+codes);
  *   3. the PREVIOUS generation is retained as a grace window (an
  *      in-flight reader that resolved just before the swap keeps its
  *      files), generations before it are dropped.
  *
  * SEGMENTS: each family has ONE segment writer returning its parts —
  * `Curation.textSegment` (postings by token + the (n_docs, sum_dl)
  * sidecar), `Dedup.bandSegment` (band postings by bandkey + shingle
  * store by base_id), `Similarity.ivfSegment` (lists by cluster + PQ
  * codes by neighbor_id) — and ONE serve over every segment of a
  * published map (`textServe`, `bandServe`, `ivfServe`). A build,
  * compaction or purge publishes one segment in full; an append
  * publishes one more with `carryForward`; the serve never names a
  * base or delta segment.
  *
  * CONCURRENCY: two writers of the SAME family+namespace still race on
  * the generation counter (last swap wins; both write valid
  * generations, so readers are never broken — the loser's work is
  * garbage-collected two publishes later). The TVF surface
  * (`graft_op`), where concurrent invocations are real, namespaces
  * every invocation via `spark.graft.indexNamespace` (appended to
  * family AND table names), making concurrent index ops fully disjoint
  * — see GraftOps. Verify/Bench leave the namespace unset and keep the
  * fixed names.
  *
  * COLD START: the manifest records each part's bucket layout, and the
  * generation tables are EXTERNAL at fixed warehouse locations — so
  * [[restore]] re-registers a published family in a fresh session from
  * the manifest alone (schema inferred from parquet, CLUSTERED BY spec
  * from the manifest), preserving the zero-shuffle join contract
  * without a rebuild.
  */
object Bucketing {

  // ---------------- low-level writers (generation-agnostic) ----------

  /** Write `df` as a plain (UNbucketed) managed table — the sidecar
    * form for 1-row stats frames. Never bucket these: a single-bucket
    * scan claims HashPartitioning(key, 1), and a UNION of such scans
    * feeding a global aggregate satisfied the planner's distribution
    * requirement per-child — the final agg ran per-partition with NO
    * exchange and returned one row PER SEGMENT (observed on tx38's
    * stats merge; plain tables plan the normal partial+final shape).
    */
  def writeTable(df: DataFrame, table: String): Unit = {
    dropWithLocation(df.sparkSession, table)
    // explicit path (same layout a managed table would get) → EXTERNAL:
    // a catalog-only drop leaves the bytes, which is what lets
    // restore() re-register a published index in a cold session;
    // dropWithLocation deletes the directory explicitly on rewrite, so
    // overwrite semantics are unchanged
    df.write.mode("overwrite").format("parquet")
      .option("path", tableLocation(df.sparkSession, table))
      .saveAsTable(table)
  }

  private def tableLocation(spark: SparkSession, table: String): String =
    new java.io.File(warehousePath(spark), table.toLowerCase)
      .getAbsolutePath

  private def warehousePath(spark: SparkSession): java.io.File =
    new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)

  private def dropWithLocation(spark: SparkSession, table: String)
      : Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // An in-memory catalog forgets tables across sessions while their
    // warehouse directories persist — clear both so re-creation never
    // hits LOCATION_ALREADY_EXISTS.
    val loc = new java.io.File(warehousePath(spark), table.toLowerCase)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(loc)
    }
  }

  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, sorted: Boolean = true): Unit = {
    dropWithLocation(df.sparkSession, table)
    // ONE file per bucket (guide §6 file sizing): a bucketed write
    // emits a file per (input task × bucket it sees) — the 32-partition
    // band/shingle frames wrote 256-264 ~10 KB files per table
    // (measured, r13), paying per-file create+commit on the write and
    // a footer open per file on EVERY probe scan. HashPartitioning and
    // the bucket assignment share the same Murmur3-pmod hash, so
    // repartition(buckets, key) lands each task exactly one bucket →
    // `buckets` files. Same rows, same bucket spec, layout-only; at
    // production scale this is the standard cluster-by-bucket-key
    // shuffle before a bucketed write (write.distribution-mode=hash).
    val clustered = df.repartition(buckets,
      org.apache.spark.sql.functions.col(key))
    val w = clustered.write.mode("overwrite").format("parquet")
      .option("path", tableLocation(df.sparkSession, table))
      .bucketBy(buckets, key)
    (if (sorted) w.sortBy(key) else w).saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket key — planner emits
    * no shuffle on either side.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, leftKey: String, rightKey: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.table(leftTable)
      .join(spark.table(rightTable), col(leftKey) === col(rightKey))
  }

  // ---------------- atomic versioned publication ----------------------

  /** One table of an index family. `bucketKey = None` → plain sidecar
    * table (the stats-frame rule above). */
  case class Part(table: String, df: DataFrame,
      bucketKey: Option[String] = None, buckets: Int = 8,
      sorted: Boolean = true)

  /** Per-invocation/tenant isolation suffix (empty under Verify/Bench;
    * set by the graft_op TVF surface). Appended to family and table
    * names, so concurrent namespaced publishes never share a manifest
    * or a warehouse directory. */
  def namespace(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.indexNamespace").getOrElse("")

  private def manifestDir(spark: SparkSession): java.io.File =
    new java.io.File(warehousePath(spark), "graft_manifest")

  private def pointerFile(spark: SparkSession, fam: String): java.io.File =
    new java.io.File(manifestDir(spark), fam.toLowerCase)

  private def genFile(spark: SparkSession, fam: String, gen: Long)
      : java.io.File =
    new java.io.File(manifestDir(spark), s"${fam.toLowerCase}.g$gen")

  private def readGen(f: java.io.File): Option[Long] =
    if (!f.isFile) None
    else scala.util.Try(
      java.nio.file.Files.readString(f.toPath).trim.toLong).toOption

  /** One manifest entry: the concrete table plus the layout needed to
    * re-register it in a COLD session (bucket spec is catalog
    * metadata, not parquet metadata — without it a fresh session could
    * read the bytes but would lose the zero-shuffle join contract). */
  private[graft] case class ManifestEntry(table: String,
      bucketKey: Option[String], buckets: Int, sorted: Boolean)

  /** part → manifest entry recorded by generation `gen`'s manifest
    * (empty if that generation never completed its manifest — only
    * reachable for never-pointed-to generations). */
  private def readEntries(spark: SparkSession, fam: String, gen: Long)
      : Map[String, ManifestEntry] = {
    val f = genFile(spark, fam, gen)
    if (!f.isFile) Map.empty
    else java.nio.file.Files.readString(f.toPath).linesIterator
      .filter(_.contains('\t')).map { l =>
        l.split('\t') match {
          case Array(p, t, k, b, s) =>
            p -> ManifestEntry(t,
              if (k.isEmpty) None else Some(k), b.toInt, s.toBoolean)
          case arr => // pre-r13 two-field manifests stay readable
            arr(0) -> ManifestEntry(arr(1), None, 0, sorted = false)
        }
      }.toMap
  }

  private def readParts(spark: SparkSession, fam: String, gen: Long)
      : Map[String, String] =
    readEntries(spark, fam, gen).map { case (p, e) => p -> e.table }

  /** The generation a reader of `family` should serve, or None before
    * the first successful publish. */
  def currentGen(spark: SparkSession, family: String): Option[Long] =
    readGen(pointerFile(spark, family + namespace(spark)))

  /** Serving generation, required. */
  def servingGen(spark: SparkSession, family: String): Long =
    currentGen(spark, family).getOrElse(throw new IllegalStateException(
      s"index family '$family${namespace(spark)}' has no published " +
        "generation — publish() must succeed before readers resolve"))

  /** part → serving table name, from ONE pointer read — every part a
    * reader opens through this map belongs to the same generation (the
    * never-a-mix rule; two independent resolutions could straddle a
    * concurrent swap). */
  def publishedTables(spark: SparkSession, family: String)
      : Map[String, String] =
    readParts(spark, family + namespace(spark),
      servingGen(spark, family))

  /** One-part convenience reader (single-table families / specs). */
  def published(spark: SparkSession, family: String, part: String)
      : DataFrame =
    spark.table(publishedTables(spark, family)(part))

  /** COLD-START: re-register the serving generation's tables in a
    * session whose catalog has forgotten them (fresh JVM over a
    * surviving warehouse — the manifest records each part's bucket
    * layout precisely because bucket specs are catalog metadata, not
    * parquet metadata). Each missing part is re-created as an external
    * table over its directory with the recorded CLUSTERED BY spec, so
    * a restored reader keeps the zero-shuffle join contract
    * (BucketingSpec asserts the restored join plans no Exchange).
    * Idempotent; returns part → table. */
  def restore(spark: SparkSession, family: String)
      : Map[String, String] = {
    val fam = family + namespace(spark)
    val entries = readEntries(spark, fam, servingGen(spark, family))
    entries.foreach { case (_, e) =>
      if (!spark.catalog.tableExists(e.table)) {
        val loc = new java.io.File(warehousePath(spark),
          e.table.toLowerCase)
        require(loc.isDirectory,
          s"published table ${e.table} has no data directory at $loc")
        val schema = spark.read.parquet(loc.getAbsolutePath).schema.toDDL
        val bucketSql = e.bucketKey.map { k =>
          (if (e.sorted) s" CLUSTERED BY (`$k`) SORTED BY (`$k`)"
           else s" CLUSTERED BY (`$k`)") + s" INTO ${e.buckets} BUCKETS"
        }.getOrElse("")
        spark.sql(s"CREATE TABLE ${e.table} ($schema) USING parquet" +
          bucketSql + s" LOCATION '${loc.getAbsolutePath}'")
      }
    }
    entries.map { case (p, e) => p -> e.table }
  }

  /** Erase a family completely — pointer, generation manifests, and
    * every physical table under its prefix. For operators that DEMO
    * the lifecycle from a known state (pp42 needs deterministic
    * generation numbers for its oracle) and for tests; production
    * families never call this. */
  def resetFamily(spark: SparkSession, family: String): Unit = {
    val fam = family + namespace(spark)
    val pf = pointerFile(spark, fam)
    if (pf.isFile) pf.delete()
    Option(manifestDir(spark).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(s"${fam.toLowerCase}.g"))
      .foreach(_.delete())
    val famRx = ("^" + java.util.regex.Pattern.quote(
      s"${fam.toLowerCase}__") + ".+__g\\d+$").r
    Option(warehousePath(spark).listFiles()).getOrElse(Array.empty)
      .foreach { f =>
        if (famRx.findFirstIn(f.getName).isDefined)
          dropWithLocation(spark, f.getName)
      }
  }

  /** Atomically publish a new generation of `family`:
    *
    *   1. write every part under the next generation suffix;
    *   2. write the generation MANIFEST (part → table listing; with
    *      `carryForward` the previous generation's parts not re-named
    *      here are carried into it UN-rewritten — the LSM append:
    *      dd36/tx38 add a delta segment without touching base bytes,
    *      while a full publish flips the family to exactly the new
    *      parts — the dd37/tx39 compaction);
    *   3. swap the pointer file LAST by atomic rename — the single
    *      publish point: a reader resolves the whole old set or the
    *      whole new set, never a mix;
    *   4. garbage-collect tables referenced by neither the new nor the
    *      previous manifest (the previous generation is the in-flight-
    *      reader grace window).
    *
    * Returns part → concrete table name for the generation just
    * published, so the publishing query reads exactly what it wrote
    * with zero re-resolution. Any failure before step 3 leaves the
    * prior generation serving and the pointer untouched (BucketingSpec
    * kills a publish mid-write and proves the reader still serves the
    * prior bytes); the orphaned generation's directories are
    * overwritten by the next successful publish and collected by its
    * GC.
    */
  def publish(spark: SparkSession, family: String, parts: Seq[Part],
      carryForward: Boolean = false): Map[String, String] = {
    require(parts.nonEmpty, "publish needs at least one part")
    val ns = namespace(spark)
    val fam = family + ns
    // "__" is the physical-name separator; a family containing it
    // could alias another family's GC scan prefix
    require(!fam.contains("__") && parts.forall(p =>
      p.table.nonEmpty && !p.table.contains("__g")),
      s"family/part names must not contain '__'/'__g': $fam")
    val prevGen = readGen(pointerFile(spark, fam))
    val gen = prevGen.getOrElse(0L) + 1L
    val prevEntries = prevGen.map(readEntries(spark, fam, _))
      .getOrElse(Map.empty)
    val prevParts = prevEntries.map { case (p, e) => p -> e.table }
    // family-qualified physical names: two families may use the same
    // part name (dd36 and dd37 both carry a graft_band_base segment)
    // without sharing a byte (the ADVICE r12 aliasing rule)
    // Parts write SEQUENTIALLY, deliberately (guide §2.6 concurrent
    // part writes A/B'd and REJECTED, r13: publish-family micro-bench
    // 55.4 s sequential vs 67.0 s concurrent — parts of one family
    // share lazily-persisted upstreams (ss34's normed pool, the PQ
    // quantizer pipelines), and concurrent materialization re-runs
    // the shared build per part before the cache fills, the dd20
    // lazy-persist race; sequential writes fill the cache on part 1
    // and reuse it on parts 2..n).
    val written: Map[String, ManifestEntry] = parts.map { p =>
      val tbl = s"${fam}__${p.table}__g$gen"
      p.bucketKey match {
        case Some(k) => writeBucketed(p.df, tbl, k, p.buckets, p.sorted)
        case None => writeTable(p.df, tbl)
      }
      p.table -> ManifestEntry(tbl, p.bucketKey, p.buckets, p.sorted)
    }.toMap
    val entries =
      if (carryForward) prevEntries ++ written else written
    val names = entries.map { case (p, e) => p -> e.table }
    // generation manifest (table + bucket layout per part — enough for
    // a cold session to re-register, see restore()), then the atomic
    // pointer swap
    val gf = genFile(spark, fam, gen)
    gf.getParentFile.mkdirs()
    java.nio.file.Files.writeString(gf.toPath,
      entries.map { case (p, e) =>
        s"$p\t${e.table}\t${e.bucketKey.getOrElse("")}\t${e.buckets}\t${e.sorted}"
      }.mkString("", "\n", "\n"))
    val pf = pointerFile(spark, fam)
    val tmp = new java.io.File(pf.getParentFile, s"${pf.getName}.tmp$gen")
    java.nio.file.Files.writeString(tmp.toPath, gen.toString)
    java.nio.file.Files.move(tmp.toPath, pf.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // GC: referenced = new ∪ previous manifest (grace window); ANY
    // other generation directory under this family's physical prefix
    // is dead — including parts retired generations ago (a per-part
    // scan leaked dd36-style base segments once a compaction stopped
    // naming them; the family-wide scan does not).
    val referenced = (names.values ++ prevParts.values)
      .map(_.toLowerCase).toSet
    val famRx = ("^" + java.util.regex.Pattern.quote(
      s"${fam.toLowerCase}__") + ".+__g\\d+$").r
    Option(warehousePath(spark).listFiles()).getOrElse(Array.empty)
      .foreach { f =>
        val n = f.getName
        if (famRx.findFirstIn(n).isDefined && !referenced.contains(n))
          dropWithLocation(spark, n)
      }
    // manifests older than the grace window go too
    Option(manifestDir(spark).listFiles()).getOrElse(Array.empty)
      .foreach { f =>
        val n = f.getName
        val p = s"${fam.toLowerCase}.g"
        if (n.startsWith(p) &&
            scala.util.Try(n.stripPrefix(p).toLong).toOption
              .exists(_ < gen - 1L))
          f.delete()
      }
    names
  }
}

package graft.ingest

import java.util.regex.Pattern

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the maintenance pass a `flush.size`-driven lake
  * needs at scale. The reference has no compaction at all (its file size is
  * whatever `flush.size`/rotation produced, SURVEY §2.5); at 100 TB a
  * low-latency `flush.size` leaves millions of KB-sized objects per day,
  * and every downstream scan pays the per-object open cost. Compaction
  * re-runs the ordinary ingest write with a larger `flush.size` over the
  * read-back lake — same grouping, naming (W13) and replay (X1) contracts,
  * so a compacted lake is byte-indistinguishable from one ingested with the
  * larger `flush.size` in the first place.
  *
  * Execution shape: one distributed read (path-parsed partition/file
  * columns, no driver loop over records), one `dropDuplicates` shuffle on
  * the record identity `(kafkaPartition, encodedPartition, offset)`, then
  * the standard `IngestWriter` single-shuffle group/name/write pass, which
  * also tallies the new objects' manifest tags. The swap is
  * write-then-delete: the new generation lands first (same-named
  * objects overwrite idempotently), stale objects are deleted after, and a
  * crash anywhere in between replays to the identical converged state —
  * the identity dedup makes a mixed-generation read re-derive the same new
  * generation, after which the stale list is recomputed and removed. (The
  * transient mixed window is visible to concurrent readers; the reference
  * offers no stronger story — it has no rewrite path at all.) Concurrent
  * ingest is safe: the pass reads EXACTLY the objects of its one listing,
  * so a file landing mid-compaction is simply not part of this generation
  * — never compacted-and-left, never deleted-unread.
  */
object Compaction {

  final case class Result(files: Seq[IngestWriter.FileInfo],
                          filesBefore: Long, filesRemoved: Long)

  private val StatsArrayType =
    "array<struct<c: string, lo: double, hi: double, " +
      "slo: string, shi: string>>"

  /** A file name is a K/V/H sidecar iff `.keys.`/`.headers.` is followed
    * by a pure extension tail. The tail of a sidecar never contains `+`
    * (it is `<view ext>` only, e.g. `.keys.avro`, `.keys.snappy.parquet`),
    * while a TOPIC name containing those infixes (Kafka allows dots, e.g.
    * topic `orders.keys.v2`) is always followed by `+partition+offset` in
    * every object name — so the regex separates the two without knowing
    * the configured view formats, covering sidecars written under OLDER
    * configs (e.g. same-format `.keys.parquet`) as well. */
  private val SidecarTailRe = ".*\\.(keys|headers)\\.[^+]+$"

  /** Read a written lake back with `__epart` / `__fname` / `__kpart`
    * parsed from each object's path (works for ANY partitioner — nested
    * time paths included — because the encoded partition is by definition
    * the directory between the topic dir and the object name). Only
    * schema-bearing formats are rewritable; ByteArray lakes have no
    * record boundaries Spark can re-group.
    *
    * When `inventory` is given, the result is restricted to EXACTLY those
    * (encodedPartition, fileName) objects — `compact` passes its listing
    * so the read set and the delete-candidate set are one snapshot: a
    * file landed by a concurrent ingest after the listing is neither
    * compacted nor deleted, instead of having its records duplicated into
    * the new generation while the object itself survives. The restriction
    * is a broadcast semi-join on the path-derived columns, NOT a
    * `load(paths)` call: Spark glob-expands load() paths, so a partition
    * value containing glob metachars (`[`, `{`, `*`) would mis-resolve —
    * and the writer explicitly supports special characters in partition
    * values. */
  def readLake(spark: SparkSession, topicDir: String, cfg: IngestConfig,
               inventory: Seq[(String, String)] = Nil): DataFrame = {
    require(cfg.format == OutputFormat.Parquet ||
      cfg.format == OutputFormat.Json,
      s"compaction rewrites Parquet/Json lakes, not ${cfg.format}")
    val df = spark.read.format(cfg.format.sparkFormat)
      // manifests and other sidecars are not data objects
      .option("pathGlobFilter", s"*${cfg.extension}")
      .option("recursiveFileLookup", "true")
      .load(topicDir)
    val rel = relativeKeyCol(topicDir)
    val parsed = df
      .withColumn("__fname", regexp_extract(rel, "([^/]+)$", 1))
      .withColumn("__epart", regexp_replace(rel, "/?[^/]+$", ""))
      .withColumn("__kpart",
        element_at(split(col("__fname"), Pattern.quote("+")), 2).cast("int"))
    if (inventory.isEmpty) parsed
    else {
      val inv = spark.createDataFrame(inventory)
        .toDF("__epart", "__fname")
      parsed.join(broadcast(inv), Seq("__epart", "__fname"), "left_semi")
    }
  }

  /** Each scanned row's object key relative to `topicDir`, derived from
    * `input_file_name()`. The raw value is a percent-ENCODED URI;
    * URI.getPath decodes it (incl. UTF-8 multibyte), so partition values
    * with spaces/specials compare equal to the decoded directory names
    * the writer created — otherwise compaction would relocate `a b` to a
    * literal `a%20b` dir and delete the originals. (URLDecoder is wrong
    * here: it also turns the '+' every file name contains into a space.)
    * Shared by `readLake` and `readCommitted`'s scan mode so the subtle
    * decode logic exists exactly once. */
  private def relativeKeyCol(topicDir: String): Column = {
    val topicPath = new Path(topicDir).toUri.getPath
    val decodePath = udf { s: String =>
      try new java.net.URI(s).getPath catch { case _: Exception => s }
    }
    regexp_extract(decodePath(input_file_name()),
      Pattern.quote(topicPath) + "/(.*)$", 1)
  }

  /** `readLake` restricted to a DISTRIBUTED `(__epart, __fname)`
    * inventory frame — `compact`'s path, where the inventory is the
    * task-side lake listing and may be millions of rows: no broadcast
    * hint (AQE broadcasts small listings on its own; large ones
    * shuffle), no driver materialization. */
  private def readLakeInv(spark: SparkSession, topicDir: String,
                          cfg: IngestConfig,
                          inventory: DataFrame): DataFrame =
    readLake(spark, topicDir, cfg)
      .join(inventory.select(col("__epart"), col("__fname")),
        Seq("__epart", "__fname"), "left_semi")

  /** Compact the `cfg` lake under `outDir` to ~`targetRecords`-record
    * objects. Records must carry the Kafka offset (`offsetCol`) — the same
    * identity the reference encodes in its file names. Idempotent: replays
    * (including after a mid-swap crash) converge to the same file set. */
  def compact(spark: SparkSession, outDir: String, cfg: IngestConfig,
              targetRecords: Int, offsetCol: String = "offset"): Result = {
    val topicDir = s"$outDir/${cfg.topicsDir}/${cfg.topic}"
    val fs = FileSystem.get(new java.net.URI(topicDir),
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(topicDir))) return Result(Nil, 0, 0)

    // current object inventory: a DISTRIBUTED task-side listing (the
    // driver holds no O(#objects) structure), persisted so the read
    // restriction, the stale diff and the counts all see ONE snapshot.
    // Sidecar views' OWN extensions are listed too (keys.format.class
    // may differ from the value format) so a K/V/H lake is always
    // detected.
    val inv = listingDf(spark, topicDir,
      Seq(cfg.extension, cfg.keyExtension, cfg.headerExtension).distinct)
      .persist()
    // structural sidecar rule (SidecarTailRe): catches sidecars of ANY
    // view format — configured, legacy same-format, or misconfigured —
    // without false-positives on dotted topic names
    val sidecarCond = col("__fname").rlike(SidecarTailRe)
    try {
      // K/V/H lakes (P4): key/header sidecars share each value file's
      // basename; rewriting only the value files would break the lockstep
      // contract, and rewriting all three coherently needs a joint pass
      // this operator doesn't implement — refuse loudly instead of
      // corrupting the layout.
      require(inv.filter(sidecarCond).isEmpty,
        "cannot compact a K/V/H lake: key/header sidecars must stay in " +
          "lockstep with value basenames (compact before enabling " +
          "writeKeys/writeHeaders, or rebuild the lake)")
      val before = inv.filter(!sidecarCond)
      val beforeCount = before.count()
      if (beforeCount == 0L) return Result(Nil, 0, 0)
      compactInner(spark, outDir, topicDir, cfg, targetRecords, offsetCol,
        before, beforeCount)
    } finally inv.unpersist()
  }

  private def compactInner(spark: SparkSession, outDir: String,
                           topicDir: String, cfg: IngestConfig,
                           targetRecords: Int, offsetCol: String,
                           before: DataFrame, beforeCount: Long): Result = {
    // read EXACTLY the inventory just listed — an object written by a
    // concurrent ingest between the listing and the read cannot be
    // compacted-but-not-deleted (which would persist its records twice
    // until a later compact healed it)
    val lake = readLakeInv(spark, topicDir, cfg, before)
    require(lake.columns.contains(offsetCol),
      s"compaction needs the record offset column '$offsetCol' in the lake")
    // R2 lakes: re-apply the epoch-aligned time grouping so compacted
    // boundaries still respect rotation edges (the result stays
    // indistinguishable from ingesting with the larger flush.size).
    // The sequential file-base rule re-folds over arbitrary history —
    // out of scope for a maintenance pass; refuse rather than regroup
    // under different semantics.
    require(!(cfg.rotateIntervalMs.isDefined && cfg.rotateFileBase),
      "cannot compact a rotateFileBase lake: the sequential file-base " +
        "grouping is arrival-order state, not a function of the stored " +
        "records")
    val timeGroups = cfg.rotateIntervalMs.toSeq.map { iv =>
      require(lake.columns.contains(cfg.timestampColumn),
        s"rotate.interval.ms lake needs '${cfg.timestampColumn}' stored " +
          "to preserve rotation boundaries under compaction")
      Rotation.timeFileGroup(col(cfg.timestampColumn).cast("timestamp"), iv)
    }
    val payload = lake.columns
      .filterNot(Set("__epart", "__fname", "__kpart").contains).map(col)
    // record identity (X1): makes a mixed-generation replay self-healing
    val records = lake
      .dropDuplicates("__kpart", "__epart", offsetCol)

    // a W10 manifest vouches for object names compaction is about to
    // rename: the write pass tallies the NEW objects' tags (stats columns
    // included — dropping them would permanently strip data-skipping
    // stats on first compact)
    val oldManifests = CommitManifest.manifestFiles(spark, topicDir)
    val wcfg = cfg.copy(flushSize = targetRecords, writeKeys = false,
      writeHeaders = false)
    val (files, tags) = IngestWriter.writeGroups(
      IngestWriter.group(records, wcfg, col("__epart"), col("__kpart"),
        col(offsetCol), timeGroups),
      wcfg, outDir, col("__kpart"), col(offsetCol),
      IngestWriter.views(wcfg, payload.toSeq),
      tagged = oldManifests.nonEmpty)

    // stale = listed-before minus new-generation names: a distributed
    // anti-join against the (small, broadcast) new file set — the stale
    // frame itself never materializes on the driver
    val newDf = spark.createDataFrame(
      files.map(f => (f.encodedPartition, f.fileName)))
      .toDF("__epart", "__fname")
    val stale = before.join(broadcast(newDf), Seq("__epart", "__fname"),
      "left_anti").persist()
    val staleCount = stale.count()
    // rebuild the manifest from the NEW generation's tags, then drop the
    // old generations' manifest files, and ONLY THEN delete the stale data
    // objects. This ordering makes every crash point safe: before the
    // rebuilt manifest lands, the old manifests vouch objects that all
    // still exist; after it lands, the union vouches a superset (both
    // generations present — duplicate rows in a mid-window snapshot read,
    // healed by re-running compact), and once old manifests are gone the
    // new manifest exactly matches the new generation while the
    // not-yet-deleted stale objects are mere vacuum-able orphans. Deleting
    // data FIRST could leave manifests vouching deleted objects:
    // readCommitted would fail on missing paths and vacuum would delete
    // the new generation.
    CommitManifest.writeGeneration(spark, topicDir, tags).foreach { written =>
      val mfs = new Path(topicDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // compare by file name — listStatus paths carry a scheme, the
      // written path may not, and a replayed compact REUSES its own name
      // (same offset range and key set)
      val writtenName = new Path(written).getName
      oldManifests.filter(_.getName != writtenName)
        .foreach(p => mfs.delete(p, false))
    }
    // delete stale objects of the old generation last (tasks do the I/O)
    deleteObjectsDf(topicDir, stale)
    stale.unpersist(blocking = false)
    Result(files, beforeCount, staleCount)
  }

  /** Task-side delete of a distributed `(__epart, __fname)` frame — the
    * driver never sees the object list. */
  private def deleteObjectsDf(topicDir: String, objs: DataFrame): Unit = {
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      objs.sparkSession.sparkContext.hadoopConfiguration)
    objs.select(col("__epart"), col("__fname"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          val (epart, fname) = (r.getString(0), r.getString(1))
          val p = new Path(
            s"$topicDir${if (epart.isEmpty) "" else s"/$epart"}/$fname")
          FileSystem.get(p.toUri, hadoopConf.value).delete(p, false)
        }
      }
  }

  /** Manifest-snapshot read: ONLY the objects the commit manifests vouch
    * for — a consistent committed view (the read-side complement of
    * `vacuum`: vacuum deletes what the manifest disowns, this simply
    * doesn't touch it).
    *
    * The committed-key set stays a DataFrame throughout; the driver never
    * holds an O(#objects) structure. `partitionPredicate` (over the
    * derived `encoded_partition` column) prunes the manifest BEFORE any
    * path materializes — a partition-scoped snapshot of a 4M-object lake
    * costs only that partition's keys. `rangePredicates`
    * (`(column, lower, upper)` over `cfg.statsColumns` manifest stats)
    * additionally skips objects whose recorded [min, max] proves them
    * empty for the range — the Delta/Iceberg data-skipping discipline,
    * fail-open on missing stats. Two physical modes:
    *
    *  - **Explicit paths** (pruned key count ≤ `maxExplicitPaths`): loads
    *    the literal key names — an in-flight, corrupt or schema-evolved
    *    zombie object can neither fail the read nor poison its schema,
    *    which a scan-then-filter could not guarantee. Only glob
    *    metacharacters need escaping for load() to treat each path
    *    verbatim; `basePath` keeps Hive-style partition columns
    *    inferable. The collected path list is bounded by the threshold,
    *    never by lake size.
    *  - **Scan + semi-join** (above the threshold): one recursive scan of
    *    the topic dir (sidecar `_`-dirs excluded by Spark's listing)
    *    semi-joined on the path-derived relative key against the manifest
    *    DataFrame — fully distributed at any object count. Uncommitted
    *    rows are still invisible; the tradeoff vs explicit paths is that
    *    a physically corrupt zombie OBJECT could fail the scan itself
    *    (run `vacuum` first on lakes where crashed writers are common).
    */
  /** `asOfEndOffset`: offset-watermark time travel. Offsets are this
    * engine's clock (the exactly-once story is offset-deterministic), so
    * "the lake as of watermark W" = the objects whose manifest
    * `end_offset <= W`. The cut is OBJECT-granular: at a commit-aligned
    * watermark (the normal "as of batch N" ask) it is row-exact, while a
    * watermark strictly inside some object's [start, end] excludes that
    * whole object — conservative, never phantom rows; filter rows by the
    * offset column on top for row-exact arbitrary cuts. Manifests are
    * append-only under ingest, so every historical commit point stays
    * readable until `compact`/`vacuum` rewrites the generation away —
    * the retention tradeoff every table format prices (Delta/Iceberg
    * snapshot expiry); run maintenance on a cadence that honors the
    * time-travel window you promise. */
  def readCommitted(spark: SparkSession, outDir: String, cfg: IngestConfig,
                    partitionPredicate: Option[Column] = None,
                    maxExplicitPaths: Int = 100000,
                    rangePredicates: Seq[(String, Double, Double)] = Nil,
                    stringRangePredicates: Seq[(String, String, String)] =
                      Nil,
                    asOfEndOffset: Option[Long] = None)
      : DataFrame = {
    val topicDir = s"$outDir/${cfg.topicsDir}/${cfg.topic}"
    val committedAsOfAll = CommitManifest.committedDf(spark, topicDir)
      .getOrElse(throw new IllegalArgumentException(
        s"readCommitted needs commit manifests under " +
          s"$topicDir/_graft_manifest (enable writeManifest in Ingest.run)"))
    val committedAll = asOfEndOffset match {
      case Some(w) => committedAsOfAll.filter(col("end_offset") <= w)
      case None => committedAsOfAll
    }
    // duplicate keys across generations: keep any stats row (replay
    // residue carries identical stats)
    val keys = committedAll
      .groupBy(col("object_key"))
      .agg(max_by(col("col_stats"), col("end_offset")).as("col_stats"))
      .withColumn("encoded_partition",
        when(col("object_key").contains("/"),
          regexp_replace(col("object_key"), "/[^/]+$", ""))
          .otherwise(lit("")))
    // data skipping (`cfg.statsColumns` → manifest `col_stats`): drop an
    // object only when a recorded [lo, hi] for the column PROVES it holds
    // no row in [lower, upper] — missing stats (older generations,
    // stat-less lakes, unlisted columns) FAIL OPEN to a read, so pruning
    // can shrink the result's file set but never its row set (the caller
    // still applies the row-level predicate)
    val statPruned = rangePredicates.foldLeft(keys) {
      case (df, (name, lower, upper)) =>
        df.filter(size(filter(coalesce(col("col_stats"),
            array().cast(StatsArrayType)),
          s => s.getField("c") === name &&
            (s.getField("lo") > upper || s.getField("hi") < lower))) === 0)
    }
    val strPruned = stringRangePredicates.foldLeft(statPruned) {
      case (df, (name, lower, upper)) =>
        df.filter(size(filter(coalesce(col("col_stats"),
            array().cast(StatsArrayType)),
          s => s.getField("c") === name &&
            (s.getField("slo") > upper || s.getField("shi") < lower))) === 0)
    }
    val pruned = partitionPredicate.fold(strPruned)(strPruned.filter)
    val n = pruned.count() // ONE scalar to the driver
    // fail CLOSED only when the MANIFESTS are empty (an empty committed
    // set must not degrade into an unfiltered full-lake read). Predicates
    // legitimately pruning a healthy lake to zero objects answer with an
    // EMPTY frame in the lake's schema — "no rows in range" is a result,
    // not an error.
    if (n == 0) {
      require(!keys.isEmpty,
        s"manifests under $topicDir/_graft_manifest vouch for no objects")
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        probeSchema(spark, keys, topicDir, cfg))
    }
    if (n <= maxExplicitPaths) {
      val paths = pruned.select("object_key").collect()
        .map(_.getString(0)).sorted
        .map(k => s"$topicDir/${escapeGlob(k)}")
      spark.read.format(cfg.format.sparkFormat)
        .option("basePath", topicDir)
        .load(paths.toIndexedSeq: _*)
    } else {
      // pin the scan schema from ONE committed value object (smallest key
      // — deterministic; a 1-row collect): the glob also matches
      // same-format K/V/H sidecars (`.keys.parquet`), and without an
      // explicit schema Spark would infer from an arbitrary footer — a
      // sidecar footer would erase every value column from the snapshot.
      // With the pinned schema, sidecar rows surface as all-null and the
      // semi-join (their key is never manifested) drops them.
      val scan = spark.read.schema(probeSchema(spark, pruned, topicDir, cfg))
        .format(cfg.format.sparkFormat)
        .option("pathGlobFilter", s"*${cfg.extension}")
        .option("basePath", topicDir)
        .load(topicDir)
      // the semi-join right side is the PRUNED manifest, so the partition
      // predicate filters scan rows too — no path outside it survives;
      // the key derivation is readLake's (shared `relativeKeyCol`)
      scan.withColumn("__key", relativeKeyCol(topicDir)).join(
        pruned.select(col("object_key").as("__key")),
        Seq("__key"), "left_semi").drop("__key")
    }
  }

  /** The lake's schema pinned from ONE committed value object (smallest
    * `object_key` of `keyed` — deterministic; a 1-row collect), read
    * with `basePath` so Hive partition columns stay inferable. Shared by
    * the scan-mode read (where unpinned inference could land on a
    * same-format sidecar footer) and the empty-result path. */
  private def probeSchema(spark: SparkSession, keyed: DataFrame,
                          topicDir: String,
                          cfg: IngestConfig): org.apache.spark.sql.types.StructType = {
    val probeKey = keyed.select(col("object_key"))
      .orderBy(col("object_key")).limit(1).head.getString(0)
    spark.read.format(cfg.format.sparkFormat)
      .option("basePath", topicDir)
      .load(s"$topicDir/${escapeGlob(probeKey)}").schema
  }

  /** Backslash-escape Hadoop glob metacharacters so a literal path (the
    * writer supports special characters in partition values) cannot
    * glob-expand inside `load()`. */
  private def escapeGlob(p: String): String =
    p.replaceAll("([\\\\*?\\[\\]\\{\\}])", "\\\\$1")

  /** `orphans` is a SORTED, `maxReport`-capped sample for logs/review;
    * `orphanCount` is the true total (they differ only when the cap
    * bites — e.g. a lake whose manifests were lost, where everything
    * looks orphaned). */
  final case class VacuumResult(objectsListed: Long,
                                orphanCount: Long,
                                orphans: Seq[(String, String)],
                                deleted: Boolean)

  /** Orphan-object cleanup against the commit manifest — the OFFLINE
    * analogue of the reference's zombie-file scan (X4,
    * `TopicPartitionWriter.java:1011-1053`): any data object under the
    * topic dir whose key the manifest does not vouch for was written by
    * a superseded/crashed run and never committed (the fenced runtime
    * path makes such writes possible but harmless — see `EpochFence`).
    *
    * Scale shape: the lake listing runs TASK-SIDE (`listingDf` — the
    * driver enumerates only the top-level partition directories), the
    * diff is an anti-join between the listing and the manifest DataFrames
    * (never a driver-resident key Set), and deletion runs task-side FROM
    * the orphan DataFrame. The driver receives only two scalars plus a
    * sorted first-`maxReport` orphan sample (TakeOrdered — bounded even
    * in the pathological case where lost manifests make the ENTIRE lake
    * look orphaned). `dryRun` reports without deleting. Run it
    * like compaction — as a maintenance pass, not inline with ingest; a
    * concurrent not-yet-manifested write would look like an orphan, so
    * quiesce the topic first (same contract the reference's scan has
    * within a partition). */
  def vacuum(spark: SparkSession, outDir: String, cfg: IngestConfig,
             dryRun: Boolean = false, maxReport: Int = 10000): VacuumResult = {
    val topicDir = s"$outDir/${cfg.topicsDir}/${cfg.topic}"
    val fs = FileSystem.get(new java.net.URI(topicDir),
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(topicDir)))
      return VacuumResult(0L, 0L, Nil, false)
    // the UNION of all manifest generations — a single batch's manifest
    // must never be mistaken for full-lake coverage
    val committed = CommitManifest.committedDf(spark, topicDir)
      .getOrElse(throw new IllegalArgumentException(
        s"vacuum needs commit manifests under $topicDir/_graft_manifest " +
          "(enable writeManifest in Ingest.run); without them, live and " +
          "orphan objects are indistinguishable"))
      .select(col("object_key")).distinct()
    val listing = listingDf(spark, topicDir,
      Seq(cfg.extension, cfg.keyExtension, cfg.headerExtension).distinct)
      .persist()
    try {
      // K/V/H sidecars (P4) share their value file's basename and are
      // vouched for transitively: a sidecar is live iff its VALUE file is
      // manifested (manifests carry value names only). Sidecars are
      // recognized STRUCTURALLY (`SidecarTailRe`), not by the configured
      // view extensions alone — a lake written under a different
      // keys.format.class (e.g. same-format `.keys.parquet` sidecars from
      // an older config) must map to its value basename too, or vacuum
      // would delete live sidecars as orphans. And the match runs on the
      // `<topic>+<kpart>+<offset>` BASE, not `base + cfg.extension`: the
      // sidecar's value file may itself be manifested under an older
      // VALUE format, so guessing the current extension would orphan a
      // live pair. `+` never occurs in an extension and the offset tail
      // is the last `+d+d` run, so stripping from the post-offset dot is
      // unambiguous on both sides.
      val stripExt = (c: Column) =>
        regexp_extract(c, "^(.*\\+\\d+\\+\\d+)\\.", 1)
      val sidecarBase = stripExt(regexp_replace(col("__fname"),
        "\\.(keys|headers)\\.[^+]+$", ".x"))
      val liveKey = when(col("__fname").rlike(SidecarTailRe),
        when(col("__epart") === "", sidecarBase)
          .otherwise(concat(col("__epart"), lit("/"), sidecarBase)))
        .otherwise(CommitManifest.objectKey(col("__epart"), col("__fname")))
      // the manifest vouches each object under BOTH its exact key and
      // its extension-stripped base (for sidecar transitivity)
      val vouched = committed.select(col("object_key").as("__vkey"))
        .union(committed.select(
          stripExt(col("object_key")).as("__vkey")))
        .distinct()
      val total = listing.count()
      val orphansDf = listing.withColumn("__vkey", liveKey)
        .join(vouched, Seq("__vkey"), "left_anti")
        .select("__epart", "__fname").persist()
      try {
        val orphanCount = orphansDf.count()
        val sample = orphansDf.orderBy("__epart", "__fname")
          .limit(maxReport).collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        if (!dryRun && orphanCount > 0) deleteObjectsDf(topicDir, orphansDf)
        VacuumResult(total, orphanCount, sample, !dryRun)
      } finally orphansDf.unpersist()
    } finally listing.unpersist()
  }

  /** Distributed recursive object listing as a DataFrame of
    * `(__epart, __fname)`: the driver lists only the IMMEDIATE children
    * of the topic dir (bounded by top-level partition-value count) and
    * tasks recurse below in parallel — no O(#objects) driver structure.
    * Sidecar paths (any `_`/`.`-prefixed component) are never data
    * objects; root-level files (unpartitioned lakes) come from the same
    * driver listing that found the directories.
    *
    * K/V/H sidecars are matched STRUCTURALLY (`SidecarTailRe`) in
    * addition to the configured extensions: a sidecar written under an
    * OLDER `keys.format.class` whose extension matches none of the
    * current three must still be visible, or compact's lockstep refusal
    * would pass on a lake it is about to corrupt and vacuum could never
    * clean such sidecars up. */
  private def listingDf(spark: SparkSession, topicDir: String,
                        extensions: Seq[String]): DataFrame = {
    val keep = (name: String) =>
      extensions.exists(name.endsWith) || name.matches(SidecarTailRe)
    import spark.implicits._
    val root = new Path(topicDir)
    val fs = FileSystem.get(root.toUri,
      spark.sparkContext.hadoopConfiguration)
    val rootPathStr = root.toUri.getPath
    val children = fs.listStatus(root)
    val (dirs, rootFiles) = children.partition(_.isDirectory)
    val visibleDirs = dirs.map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .map(_.toString).toSeq
    val rootRows = rootFiles.map(_.getPath.getName)
      .filter(n => keep(n) && !n.startsWith("_") && !n.startsWith("."))
      .map(("", _)).toSeq
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val fromDirs =
      if (visibleDirs.isEmpty) spark.emptyDataset[(String, String)]
      else spark.sparkContext.parallelize(visibleDirs,
        math.min(visibleDirs.length, spark.sparkContext.defaultParallelism))
        .flatMap { dirStr =>
          val dir = new Path(dirStr)
          val tfs = FileSystem.get(dir.toUri, hadoopConf.value)
          val it = tfs.listFiles(dir, true)
          val b = Seq.newBuilder[(String, String)]
          while (it.hasNext) {
            val f = it.next().getPath
            val rel = f.toUri.getPath
              .stripPrefix(rootPathStr).stripPrefix("/")
            val hidden = rel.split('/')
              .exists(c => c.startsWith("_") || c.startsWith("."))
            if (keep(f.getName) && !hidden) {
              val slash = rel.lastIndexOf('/')
              b += ((if (slash < 0) "" else rel.substring(0, slash),
                rel.substring(slash + 1)))
            }
          }
          b.result()
        }.toDS()
    (if (rootRows.isEmpty) fromDirs
     else fromDirs.union(rootRows.toDS())).toDF("__epart", "__fname")
  }

  /** Key-based upsert merge — MERGE INTO semantics (the primitive a
    * curated-corpus lake needs: re-scored documents, corrected records,
    * late-arriving fixes): an update row REPLACES the base row with its
    * key; base rows with untouched keys pass through; `versionCol`
    * resolves conflicts WITHIN the update batch (highest version wins).
    * Column sets must match (`unionByName`).
    *
    * Scale shape: the lake side is never aggregated, sorted or windowed —
    * it pays exactly one LEFT ANTI equi-join against the update batch's
    * key set (update batches are increments: AQE broadcasts the key set
    * when it is small, which is the common case, making the lake scan
    * shuffle-free) — and the deduped updates union on top. The only
    * aggregate runs over the (small) update side. At lake scale the
    * physical write composes with partition overwrite: restrict `base` to
    * the update keys' partitions and write back with
    * `partitionOverwriteMode=dynamic`, so untouched partitions are
    * neither read nor rewritten. The relational merge below is that inner
    * step, and is what the `lake_upsert` oracle checks. */
  def upsert(base: org.apache.spark.sql.DataFrame,
             updates: org.apache.spark.sql.DataFrame,
             keyCols: Seq[String],
             versionCol: String): org.apache.spark.sql.DataFrame = {
    require(base.columns.sorted.sameElements(updates.columns.sorted),
      "upsert sides must share a column set")
    val payload = base.columns.filterNot(keyCols.contains)
    // within-batch conflicts: keep the highest version per key (the
    // sort-based aggregate this struct max_by plans is confined to the
    // increment, never the lake). The ORDERABLE payload columns join the
    // ordering as a deterministic tiebreak — two update rows sharing key
    // AND version would otherwise leave the winner to partial-aggregation
    // order, breaking replay idempotency. getField (not col("a.b"))
    // keeps dotted payload column names literal.
    val payloadStruct = struct(payload.map(col): _*)
    val latest = updates.groupBy(keyCols.map(col): _*)
      .agg(max_by(payloadStruct,
        struct(col(versionCol) +: orderableTiebreak(updates, payload): _*))
        .as("__row"))
      .select(keyCols.map(col) ++
        payload.map(c => col("__row").getField(c).as(c)): _*)
    base.join(latest.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(latest)
  }

  /** The payload columns usable as a deterministic ordering tiebreak —
    * map-typed (and other unorderable) columns are excluded rather than
    * failing the whole merge at analysis; a conflict differing ONLY in an
    * unorderable column then resolves by the orderable remainder (and is
    * genuinely ambiguous only when every orderable column ties too). */
  private def orderableTiebreak(
      df: org.apache.spark.sql.DataFrame,
      payload: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    val orderable = payload.filter { c =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(
        df.schema(c).dataType)
    }
    if (orderable.isEmpty) Nil else Seq(struct(orderable.map(col): _*))
  }

  /** Version-resolving upsert for OUT-OF-ORDER delivery (the CDC case:
    * the upstream stream is not totally ordered per key, so a later
    * micro-batch may carry an OLDER version): every key keeps the row
    * with the highest (version, isUpdate, payload) across BOTH sides —
    * an update loses against a newer row already in the base, wins ties
    * at the same version, and the payload tiebreak keeps exact-duplicate
    * conflicts deterministic (replay-idempotent).
    *
    * Costs one union + one max_by aggregate over base+updates — use it
    * where the base side is already bounded (e.g. the affected-bucket
    * slice inside `StreamingIngest.startUpsertSink`); for ordered
    * replace-by-key merges over a whole lake, `upsert`'s anti-join shape
    * never aggregates the lake. */
  def upsertVersioned(base: org.apache.spark.sql.DataFrame,
                      updates: org.apache.spark.sql.DataFrame,
                      keyCols: Seq[String],
                      versionCol: String): org.apache.spark.sql.DataFrame = {
    require(base.columns.sorted.sameElements(updates.columns.sorted),
      "upsert sides must share a column set")
    val payload = base.columns.filterNot(keyCols.contains)
    val payloadStruct = struct(payload.map(col): _*)
    val merged = base.withColumn("__upd", lit(0))
      .unionByName(updates.withColumn("__upd", lit(1)))
    merged
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(payloadStruct,
        struct(Seq(col(versionCol), col("__upd")) ++
          orderableTiebreak(merged, payload): _*)).as("__row"))
      .select(keyCols.map(col) ++
        payload.map(c => col("__row").getField(c).as(c)): _*)
  }

  /** `upsertVersioned` with DELETE retraction — the full CDC merge: the
    * update side carries a boolean `deleteCol`, and a delete row COMPETES
    * at its version like any other change. Per key, the highest
    * (version, delete-over-upsert, update-over-base, payload) row wins;
    * a winning delete removes the key from the result, a LOSING delete
    * (an out-of-order tombstone older than the base row — normal when
    * the upstream topic is not totally ordered per key) changes nothing.
    * At equal version a tombstone dominates an upsert — the deterministic
    * convention replays need; document upstream if the source guarantees
    * otherwise. Delete rows may carry null payloads (a tombstone is key +
    * version); their payload never surfaces.
    *
    * Same cost shape as `upsertVersioned`: one union + one max_by
    * aggregate, base never re-sorted — use inside the bucketed streaming
    * sink where the base side is the affected-bucket slice. */
  def upsertVersionedCdc(base: org.apache.spark.sql.DataFrame,
                         updates: org.apache.spark.sql.DataFrame,
                         keyCols: Seq[String], versionCol: String,
                         deleteCol: String): org.apache.spark.sql.DataFrame = {
    require(base.columns.sorted
      .sameElements(updates.columns.filterNot(_ == deleteCol).sorted),
      s"update side must be base columns + $deleteCol")
    val payload = base.columns.filterNot(keyCols.contains)
    val merged = base
      .withColumn("__del", lit(false)).withColumn("__upd", lit(0))
      .unionByName(updates
        .withColumn("__del", coalesce(col(deleteCol), lit(false)))
        .drop(deleteCol)
        .withColumn("__upd", lit(1)))
    val valueStruct = struct(col("__del") +: payload.map(col): _*)
    merged
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(valueStruct,
        struct(Seq(col(versionCol), col("__del"), col("__upd")) ++
          orderableTiebreak(merged, payload): _*)).as("__row"))
      .filter(!col("__row.__del"))
      .select(keyCols.map(col) ++
        payload.map(c => col("__row").getField(c).as(c)): _*)
  }
}

package graft.ingest

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Small-file compaction: bin-packs a flush.size-fragmented lake into
  * larger objects while preserving the record set, the W13 naming
  * contract, and X1 idempotent replay (including mid-swap crashes). */
class CompactionSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir() = Files.createTempDirectory("compact").toString

  private def ingestFragmented(out: String, cfg: IngestConfig) = {
    val df = (0L until 60L).map { o =>
      (0, o, s"v$o", s"t${o % 2}")
    }.toDF("kafka_partition", "offset", "value", "event_type")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("value"), col("event_type")))
  }

  test("compaction merges small files into ~target-record objects, keeps " +
    "the record set, and names merged files by their min start offset") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "cmp", flushSize = 5)
    val r0 = ingestFragmented(out, cfg)
    assert(r0.files.size == 12, "fixture: 30 records/partition at flush 5")

    val r = Compaction.compact(spark, out, cfg, targetRecords = 30)
    assert(r.filesBefore == 12 && r.files.size == 2, r)
    assert(r.filesRemoved == 10, "both +0 files overwrite in place")
    // naming contract: each partition's single file starts at its min offset
    assert(r.files.map(f => (f.encodedPartition, f.fileName)).sorted == Seq(
      ("event_type=t0", "cmp+0+0000000000.parquet"),
      ("event_type=t1", "cmp+0+0000000001.parquet")))
    // record set unchanged
    val back = spark.read.parquet(s"$out/topics/cmp")
    assert(back.count() == 60)
    assert(back.agg(sum("offset")).as[Long].head == (0L until 60L).sum)
    // stale small files really are gone
    val remaining = new java.io.File(s"$out/topics/cmp/event_type=t0")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq
    assert(remaining == Seq("cmp+0+0000000000.parquet"))
  }

  test("manifest column stats skip objects on range reads: fewer files " +
    "open, identical row set, fail-open without stats") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "skip", flushSize = 10,
      statsColumns = Seq("price"))
    // price is monotone in offset, so each 10-record object covers a
    // disjoint [lo, hi] — the z-ordered/clustered shape stats need
    val df = (0L until 60L).map(o => (0, o, o * 100L, s"t${o % 2}"))
      .toDF("kafka_partition", "offset", "price", "event_type")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("price"), col("event_type")),
      writeManifest = true)
    // [2000, 2500] lives in ONE object per partition (t0: offsets 20..25
    // within its 20..38 file; t1 likewise)
    val hit = Compaction.readCommitted(spark, out, cfg,
        rangePredicates = Seq(("price", 2000.0, 2500.0)))
      .filter(col("price").between(2000, 2500))
    // materialize the expectation ONCE — the frame's source files are
    // rewritten by the compaction steps below
    val fullOffsets = spark.read.parquet(s"$out/topics/skip")
      .filter(col("price").between(2000, 2500))
      .select("offset").as[Long].collect().sorted.toSeq
    assert(hit.select("offset").as[Long].collect().sorted.toSeq ==
      fullOffsets)
    val filesOpened = hit.select(input_file_name()).distinct().count()
    assert(filesOpened == 2,
      s"one object per partition covers the range; opened $filesOpened")
    // out-of-range on a healthy lake → EMPTY result in the lake's schema
    // ("no rows in range" is an answer, not an error — only an empty
    // manifest set fails closed)
    val none = Compaction.readCommitted(spark, out, cfg,
      rangePredicates = Seq(("price", 1e9, 2e9)))
    assert(none.isEmpty && none.columns.contains("price"), none.schema)
    // a column with NO recorded stats fails open: every object read
    val open = Compaction.readCommitted(spark, out, cfg,
      rangePredicates = Seq(("offset", 20.0, 25.0)))
    assert(open.select(input_file_name()).distinct().count() == 6,
      "missing stats must never prune")
    // stats survive a second generation + manifest compaction
    val df2 = (60L until 70L).map(o => (0, o, o * 100L, s"t${o % 2}"))
      .toDF("kafka_partition", "offset", "price", "event_type")
    Ingest.run(df2, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("price"), col("event_type")),
      writeManifest = true)
    assert(CommitManifest.compactManifests(spark, s"$out/topics/skip") == 2)
    val afterCompact = Compaction.readCommitted(spark, out, cfg,
        rangePredicates = Seq(("price", 2000.0, 2500.0)))
      .filter(col("price").between(2000, 2500))
    assert(afterCompact.select("offset").as[Long].collect().sorted.toSeq ==
      fullOffsets)
    // OBJECT compaction must recompute stats for the merged objects: if
    // the rebuilt manifest dropped col_stats, the out-of-range probe
    // would fail open and return the whole lake instead of nothing
    Compaction.compact(spark, out, cfg, targetRecords = 100)
    assert(Compaction.readCommitted(spark, out, cfg,
      rangePredicates = Seq(("price", 1e9, 2e9))).isEmpty,
      "compacted objects lost their column stats")
    val afterObjCompact = Compaction.readCommitted(spark, out, cfg,
        rangePredicates = Seq(("price", 2000.0, 2500.0)))
      .filter(col("price").between(2000, 2500))
    assert(afterObjCompact.select("offset").as[Long].collect().sorted.toSeq ==
      fullOffsets)
  }

  test("STRING column manifest stats skip objects on range reads — text " +
    "lakes key on ids/dates-as-strings; numeric stats ride along and " +
    "both fail open where absent") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "sskip", flushSize = 10,
      statsColumns = Seq("day", "price"))
    // day is a STRING date, monotone in offset: each 10-record object
    // covers a disjoint lexicographic [slo, shi]
    val df = (0L until 60L).map { o =>
      (0, o, f"2024-01-${o / 4 + 1}%02d", o * 100L, s"t${o % 2}")
    }.toDF("kafka_partition", "offset", "day", "price", "event_type")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("day"), col("price"),
        col("event_type")),
      writeManifest = true)
    val want = spark.read.parquet(s"$out/topics/sskip")
      .filter(col("day").between("2024-01-06", "2024-01-07"))
      .select("offset").as[Long].collect().sorted.toSeq
    assert(want.nonEmpty)
    val hit = Compaction.readCommitted(spark, out, cfg,
        stringRangePredicates =
          Seq(("day", "2024-01-06", "2024-01-07")))
      .filter(col("day").between("2024-01-06", "2024-01-07"))
    assert(hit.select("offset").as[Long].collect().sorted.toSeq == want)
    val opened = hit.select(input_file_name()).distinct().count()
    assert(opened == 2,
      s"offsets 20..27 live in one object per partition; opened $opened")
    // string range below/above every object: healthy lake, empty answer
    assert(Compaction.readCommitted(spark, out, cfg,
      stringRangePredicates = Seq(("day", "2025-01-01", "2025-12-31")))
      .isEmpty)
    // string predicate on a column with numeric-lane stats fails open
    assert(Compaction.readCommitted(spark, out, cfg,
        stringRangePredicates = Seq(("price", "a", "b")))
      .select(input_file_name()).distinct().count() == 6,
      "numeric-lane stats must not serve a string predicate")
    // both lanes compose: string day range AND numeric price range
    val both = Compaction.readCommitted(spark, out, cfg,
      rangePredicates = Seq(("price", 2000.0, 2500.0)),
      stringRangePredicates = Seq(("day", "2024-01-06", "2024-01-07")))
    assert(both.select(input_file_name()).distinct().count() == 2)
    // object compaction recomputes BOTH lanes
    Compaction.compact(spark, out, cfg, targetRecords = 100)
    assert(Compaction.readCommitted(spark, out, cfg,
      stringRangePredicates = Seq(("day", "2025-01-01", "2025-12-31")))
      .isEmpty, "compacted objects lost their string stats")
    val after = Compaction.readCommitted(spark, out, cfg,
        stringRangePredicates =
          Seq(("day", "2024-01-06", "2024-01-07")))
      .filter(col("day").between("2024-01-06", "2024-01-07"))
    assert(after.select("offset").as[Long].collect().sorted.toSeq == want)
  }

  test("z-order layout + manifest stats = multi-dimensional data " +
    "skipping: an 8-wide slab on EITHER axis opens 4 of 16 objects") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "zskip", flushSize = 64,
      statsColumns = Seq("x", "y"))
    // the full 32×32 grid written in z-curve order: 64-record objects
    // land as aligned 8×8 tiles, so each object's [min,max] is tight on
    // BOTH dimensions — the property that makes one sort serve every
    // axis (a lexicographic (x, y) sort would prune x slabs only)
    val rows = (for (x <- 0 until 32; y <- 0 until 32) yield (x, y))
      .sortBy { case (x, y) =>
        graft.functions.ZOrder.zorder2Ref(x.toLong, y.toLong) }
      .zipWithIndex
      .map { case ((x, y), o) => (0, o.toLong, x.toLong, y.toLong) }
    Ingest.run(rows.toDF("kafka_partition", "offset", "x", "y"), cfg,
      PartitionerSpec.Default, out,
      payloadCols = Seq(col("offset"), col("x"), col("y")),
      writeManifest = true)
    for (dim <- Seq("x", "y")) {
      val slab = Compaction.readCommitted(spark, out, cfg,
          rangePredicates = Seq((dim, 0.0, 7.0)))
        .filter(col(dim).between(0, 7))
      assert(slab.count() == 256, s"$dim slab row count")
      val opened = slab.select(input_file_name()).distinct().count()
      assert(opened == 4,
        s"$dim in [0,7] must open the 4 aligned tiles, opened $opened")
    }
    // a 2-D point probe composes both predicates: ONE tile
    val cell = Compaction.readCommitted(spark, out, cfg,
      rangePredicates = Seq(("x", 3.0, 4.0), ("y", 3.0, 4.0)))
    assert(cell.select(input_file_name()).distinct().count() == 1,
      "2-D probe within one tile must open exactly that tile")
  }

  test("compaction replays idempotently, including over a simulated " +
    "mid-swap crash (new generation written, stale not yet deleted)") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "crash", flushSize = 5)
    ingestFragmented(out, cfg)
    val r1 = Compaction.compact(spark, out, cfg, targetRecords = 30)

    // simulate the crash window: re-create a stale old-generation file that
    // duplicates records already inside the compacted objects
    val dupSrc = (5L until 10L).map(o => (o, s"v$o", s"t${o % 2}"))
      .toDF("offset", "value", "event_type").filter(col("offset") % 2 === 1)
    dupSrc.coalesce(1).write.parquet(s"$out/_tmp_dup")
    val tmp = new java.io.File(s"$out/_tmp_dup").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val staleName = s"$out/topics/crash/event_type=t1/crash+0+0000000005.parquet"
    java.nio.file.Files.copy(tmp.toPath, new java.io.File(staleName).toPath)

    val r2 = Compaction.compact(spark, out, cfg, targetRecords = 30)
    // identity dedup healed the duplicates; converged to the same file set
    assert(r2.files.map(_.fileName).sorted == r1.files.map(_.fileName).sorted)
    assert(!new java.io.File(staleName).exists(),
      "stale injected file must be removed")
    val back = spark.read.parquet(s"$out/topics/crash")
    assert(back.count() == 60 &&
      back.select("offset").distinct().count() == 60)
  }

  test("json lakes compact too, and sidecar manifests are ignored") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "cj", format = OutputFormat.Json,
      flushSize = 4)
    val df = (0L until 24L).map(o => (0, o, s"v$o", s"t${o % 2}"))
      .toDF("kafka_partition", "offset", "value", "event_type")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("value"), col("event_type")),
      writeManifest = true)
    val r = Compaction.compact(spark, out, cfg, targetRecords = 12)
    assert(r.files.size == 2 && r.filesBefore == 6, r)
    val back = spark.read.json(s"$out/topics/cj")
    assert(back.where(col("offset").isNotNull).count() == 24)
  }

  test("streaming ingest then compaction: micro-batch small files merge " +
    "into one object per partition and the record set survives") {
    import org.apache.spark.sql.types._
    val src = Files.createTempDirectory("sc_src").toString
    val out = Files.createTempDirectory("sc_out").toString
    val ckpt = Files.createTempDirectory("sc_ckpt").toString
    val schema = StructType(Seq(
      StructField("kafka_partition", IntegerType),
      StructField("offset", LongType),
      StructField("event_type", StringType)))
    (0 until 3).foreach { b =>
      (0L until 8L).map(i => (0, b * 8 + i, s"t${i % 2}"))
        .toDF("kafka_partition", "offset", "event_type")
        .coalesce(1).write.mode("append").parquet(src)
    }
    val cfg = IngestConfig(topic = "sc", flushSize = 2)
    val q = graft.streaming.StreamingIngest.start(
      spark.readStream.schema(schema).parquet(src), cfg,
      Partitioners.fieldPartition("event_type" -> col("event_type")),
      out, ckpt, col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("event_type")))
    q.awaitTermination(60000)
    val frag = new java.io.File(s"$out/topics/sc/event_type=t0")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(frag >= 6, s"fixture should fragment, got $frag files")

    val r = Compaction.compact(spark, out, cfg, targetRecords = 100)
    assert(r.files.size == 2, r)
    val back = spark.read.parquet(s"$out/topics/sc")
    assert(back.count() == 24 &&
      back.select("offset").distinct().count() == 24)
  }

  test("compaction refuses K/V/H lakes instead of breaking basename " +
    "lockstep") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "kvh", flushSize = 3, writeKeys = true)
    val df = (0L until 9L).map(o => (0, o, s"k$o", s"v$o", "a"))
      .toDF("kafka_partition", "offset", "key", "value", "f")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("f")), out,
      payloadCols = Seq(col("offset"), col("value")))
    val e = intercept[IllegalArgumentException] {
      Compaction.compact(spark, out, cfg, targetRecords = 100)
    }
    assert(e.getMessage.contains("K/V/H"))
  }

  test("compaction refuses a lake whose only sidecars were written under " +
    "an OLDER keys format — stale-format sidecars must not be invisible " +
    "to the lockstep refusal") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "oldkeys", flushSize = 10)
    val df = (0L until 10L).map(o => (0, o, s"v$o", "a"))
      .toDF("kafka_partition", "offset", "value", "f")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("f")), out,
      payloadCols = Seq(col("offset"), col("value")))
    val dir = new java.io.File(s"$out/topics/oldkeys/f=a")
    val value = dir.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    // a legacy sidecar whose extension matches NONE of the three
    // currently-configured extensions (values .parquet, keys/headers
    // .keys.avro/.headers.avro): pre-fix this file was unlisted, the
    // sidecar require passed, and compact deleted the value file out
    // from under it
    val stale = new java.io.File(dir,
      value.getName.stripSuffix(".parquet") + ".keys.json")
    java.nio.file.Files.copy(value.toPath, stale.toPath)
    val e = intercept[IllegalArgumentException] {
      Compaction.compact(spark, out, cfg, targetRecords = 100)
    }
    assert(e.getMessage.contains("K/V/H"), e.getMessage)
    assert(stale.exists() && value.exists(), "refusal must not delete")
  }

  test("vacuum vouches sidecars by offset-range BASE: a stale-format " +
    "sidecar of a manifested old-format value survives, an unvouched " +
    "one is deleted, under a config that recognizes neither extension") {
    val out = freshDir()
    // generation 1: a JSON lake with a manifest
    val jsonCfg = IngestConfig(topic = "fmtmix", flushSize = 30,
      format = OutputFormat.Json)
    val df = (0L until 30L).map(o => (0, o, s"v$o", "a"))
      .toDF("kafka_partition", "offset", "value", "f")
    Ingest.run(df, jsonCfg, PartitionerSpec.Fields(Seq("f")), out,
      payloadCols = Seq(col("offset"), col("value")),
      writeManifest = true)
    val dir = new java.io.File(s"$out/topics/fmtmix/f=a")
    val jsonValue = dir.listFiles()
      .filter(_.getName.endsWith(".json")).head
    // its legacy sidecar (live: the value is manifested) and an
    // unvouched sidecar with no manifested base
    val liveSidecar = new java.io.File(dir,
      jsonValue.getName.stripSuffix(".json") + ".keys.json")
    java.nio.file.Files.copy(jsonValue.toPath, liveSidecar.toPath)
    val orphanSidecar = new java.io.File(dir,
      "fmtmix+0+0000000099.keys.json")
    java.nio.file.Files.copy(jsonValue.toPath, orphanSidecar.toPath)

    // vacuum under TODAY'S config: parquet values, avro key sidecars —
    // neither .json value nor .keys.json sidecar extensions match
    val nowCfg = IngestConfig(topic = "fmtmix", flushSize = 30)
    val r = Compaction.vacuum(spark, out, nowCfg)
    assert(r.orphans == Seq(("f=a", "fmtmix+0+0000000099.keys.json")), r)
    assert(liveSidecar.exists(),
      "live old-format sidecar must survive: guessing the CURRENT value " +
        "extension would have orphaned it")
    assert(jsonValue.exists(), "old-format values are never listed, " +
      "never deleted")
    assert(!orphanSidecar.exists())
  }

  test("readLake with an explicit inventory reads EXACTLY those objects — " +
    "a file landed after the listing is neither compacted nor deleted, " +
    "and glob metachars in partition values stay literal") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "race", flushSize = 2)
    // partition value with glob metachars: a load(paths) formulation
    // would glob-expand `[1]`/`*` and mis-resolve; the semi-join keeps
    // the path literal
    val part = "a[1]"
    val df = (0L until 8L).map(o => (0, o, s"v$o", part))
      .toDF("kafka_partition", "offset", "value", "event_type")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("value"), col("event_type")))
    val topicDir = s"$out/topics/race"
    val epart = s"event_type=$part"
    val inventory = new java.io.File(s"$topicDir/$epart")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted
      .map(f => (epart, f)).toSeq
    // a concurrent ingest lands AFTER the listing
    val late = (8L until 10L).map(o => (0, o, s"v$o", part))
      .toDF("kafka_partition", "offset", "value", "event_type")
    Ingest.run(late, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("value"), col("event_type")))
    val snapshot = Compaction.readLake(spark, topicDir, cfg, inventory)
    // the snapshot read sees only the listed generation, so compaction's
    // delete-candidate math never orphans-but-duplicates the late file
    assert(snapshot.count() == 8 &&
      snapshot.agg(max("offset")).as[Long].head == 7L)
    assert(new java.io.File(
      s"$topicDir/$epart/race+0+0000000008.parquet").exists())
  }

  test("partition values with spaces survive compaction (URI decode): no " +
    "relocation, no data loss") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "sp", flushSize = 2)
    val df = (0L until 8L).map(o => (0, o, s"v$o", "a b"))
      .toDF("kafka_partition", "offset", "value", "event_type")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("value"), col("event_type")))
    val dir = new java.io.File(s"$out/topics/sp/event_type=a b")
    assert(dir.exists(), "fixture: decoded space dir must exist")
    val r = Compaction.compact(spark, out, cfg, targetRecords = 100)
    assert(r.files.size == 1 &&
      r.files.head.encodedPartition == "event_type=a b", r)
    // originals replaced in place, nothing relocated to a %20 directory
    assert(!new java.io.File(s"$out/topics/sp/event_type=a%20b").exists())
    val back = spark.read.parquet(s"$out/topics/sp")
    assert(back.count() == 8)
  }

  test("vacuum deletes objects the commit manifest does not vouch for " +
    "(X4 zombie cleanup) and leaves committed data intact — across " +
    "MULTIPLE batch manifests, sparing K/V/H sidecars of live values") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "vac", flushSize = 30)
    def batch(lo: Long, hi: Long) = {
      val df = (lo until hi).map(o => (0, o, s"v$o", s"t${o % 2}"))
        .toDF("kafka_partition", "offset", "value", "event_type")
      Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
        payloadCols = Seq(col("offset"), col("value"), col("event_type")),
        writeManifest = true)
    }
    batch(0L, 60L)
    batch(60L, 120L) // second generation: manifests must ACCUMULATE
    assert(new java.io.File(s"$out/topics/vac/_graft_manifest")
      .listFiles().count(_.getName.startsWith("commit-")) == 2)
    // plant a zombie value object + a sidecar of a LIVE value object
    val zombieDir = new java.io.File(s"$out/topics/vac/event_type=t0")
    Seq((0, 999L, "stale", "t0")).toDF(
      "kafka_partition", "offset", "value", "event_type")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$out/_zstage")
    val part = new java.io.File(s"$out/_zstage").listFiles()
      .filter(f => f.getName.startsWith("part-")).head
    val zombie = new java.io.File(zombieDir, "vac+9+0000000999.parquet")
    java.nio.file.Files.copy(part.toPath, zombie.toPath)
    val liveValue = zombieDir.listFiles()
      .filter(f => f.getName.matches("vac\\+0\\+\\d+\\.parquet")).head
    // sidecar in the DEFAULT keys format (Avro): its name ends with
    // .keys.avro, not the value extension — vacuum must still map it to
    // its value basename (content is irrelevant to vacuum)
    val sidecar = new java.io.File(zombieDir,
      liveValue.getName.stripSuffix(".parquet") + ".keys.avro")
    java.nio.file.Files.copy(part.toPath, sidecar.toPath)

    // ...and a LEGACY same-format sidecar (.keys.parquet — written under
    // an older keys.format.class config): the structural sidecar rule
    // must map it to its value basename even though the CONFIGURED key
    // extension is now .keys.avro
    val legacySidecar = new java.io.File(zombieDir,
      liveValue.getName.stripSuffix(".parquet") + ".keys.parquet")
    java.nio.file.Files.copy(part.toPath, legacySidecar.toPath)

    val dry = Compaction.vacuum(spark, out, cfg, dryRun = true)
    assert(dry.orphans == Seq(("event_type=t0", "vac+9+0000000999.parquet")),
      dry)
    assert(zombie.exists(), "dryRun must not delete")

    val real = Compaction.vacuum(spark, out, cfg)
    assert(real.orphans == dry.orphans && real.deleted)
    assert(!zombie.exists(), "orphan must be deleted")
    assert(sidecar.exists(), "live value's sidecar must survive")
    assert(legacySidecar.exists(),
      "legacy same-format sidecar of a live value must survive too")
    // BOTH batches' committed data untouched (the single-manifest bug
    // would have classified batch 1 as orphans); the surviving sidecar is
    // not a value file, so exclude it from the value-row count
    val back = spark.read.parquet(s"$out/topics/vac")
      .withColumn("__f", input_file_name())
      .filter(!col("__f").contains(".keys."))
    assert(back.count() == 120)
    // maxReport caps the driver-side SAMPLE, never the deletion: plant
    // two fresh zombies, cap the report at 1 — the count is still 2, the
    // sample is the sorted first name, and BOTH objects are removed
    val z2 = new java.io.File(zombieDir, "vac+8+0000000888.parquet")
    val z3 = new java.io.File(zombieDir, "vac+9+0000000999.parquet")
    java.nio.file.Files.copy(part.toPath, z2.toPath)
    java.nio.file.Files.copy(part.toPath, z3.toPath)
    val capped = Compaction.vacuum(spark, out, cfg, maxReport = 1)
    assert(capped.orphanCount == 2L && capped.orphans ==
      Seq(("event_type=t0", "vac+8+0000000888.parquet")), capped)
    assert(!z2.exists() && !z3.exists(),
      "cap limits the report, not the deletion")
    // second vacuum: nothing left to remove
    val again = Compaction.vacuum(spark, out, cfg)
    assert(again.orphans.isEmpty && again.orphanCount == 0L)
  }

  test("readCommitted sees only manifested objects — a zombie write is " +
    "invisible to the snapshot read even before vacuum removes it") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "rc", flushSize = 30)
    val df = (0L until 60L).map(o => (0, o, s"v$o", s"t${o % 2}"))
      .toDF("kafka_partition", "offset", "value", "event_type")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("value"), col("event_type")),
      writeManifest = true)
    // zombie: same schema, unmanifested object
    Seq((0, 999L, "stale", "t0")).toDF(
      "kafka_partition", "offset", "value", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/_zs")
    val part = new java.io.File(s"$out/_zs").listFiles()
      .filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(part.toPath, new java.io.File(
      s"$out/topics/rc/event_type=t0/rc+9+0000000999.parquet").toPath)
    // ...and a CORRUPT zombie (0-byte object a crashed writer left):
    // explicit-path loading means the snapshot never even plans it
    java.nio.file.Files.createFile(new java.io.File(
      s"$out/topics/rc/event_type=t1/rc+8+0000000888.parquet").toPath)
    // the raw read sees the extra committed rows; the committed snapshot
    // exactly 60 and it is immune to the corrupt object that would fail
    // a whole-dir scan
    val snap = Compaction.readCommitted(spark, out, cfg)
    assert(snap.count() == 60)
    assert(snap.agg(sum("offset")).head.getLong(0) == (0L until 60L).sum)
  }

  test("offset-watermark time travel: commit-aligned cut is row-exact, " +
    "mid-object cut is conservative, zombies stay invisible at any cut") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "tt", flushSize = 10)
    def batch(lo: Long, hi: Long) = (lo until hi)
      .map(o => (0, o, s"v$o", s"t${o % 2}"))
      .toDF("kafka_partition", "offset", "value", "event_type")
    // three commits: [0,30), [30,60), [60,90)
    Seq((0L, 30L), (30L, 60L), (60L, 90L)).foreach { case (lo, hi) =>
      Ingest.run(batch(lo, hi), cfg,
        PartitionerSpec.Fields(Seq("event_type")), out,
        payloadCols = Seq(col("offset"), col("value"), col("event_type")),
        writeManifest = true)
    }
    // an unmanifested zombie must not appear in any snapshot
    java.nio.file.Files.createFile(new java.io.File(
      s"$out/topics/tt/event_type=t0/tt+7+0000000777.parquet").toPath)
    def snapAt(w: Option[Long]) = Compaction.readCommitted(spark, out,
      cfg, asOfEndOffset = w)
    // commit-aligned watermarks see exactly the committed prefixes
    assert(snapAt(Some(29L)).count() == 30)
    assert(snapAt(Some(59L)).count() == 60)
    assert(snapAt(None).count() == 90)
    // every object of commit 2 ends at its file boundary (flush 10 over
    // 2 encoded partitions → ends 39..59 area); a watermark strictly
    // inside an object's range excludes the WHOLE object — conservative,
    // never phantom rows: rows ≥ counting only fully-covered objects,
    // and every returned row is ≤ the watermark-committed set
    val mid = snapAt(Some(45L))
    val midRows = mid.agg(max("offset")).head.getLong(0)
    assert(mid.count() < 60 && mid.count() >= 30, mid.count())
    assert(midRows <= 45L, s"phantom row past the watermark: $midRows")
    // history stays readable: the as-of-29 view is unchanged by the
    // later commits (append-only manifests)
    assert(snapAt(Some(29L)).agg(sum("offset")).head.getLong(0)
      == (0L until 30L).sum)
  }

  test("readCommitted loads glob-metachar partition values literally") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "gm", flushSize = 30)
    val df = (0L until 6L).map(o => (0, o, s"v$o", "a[1] {b}*?"))
      .toDF("kafka_partition", "offset", "value", "event_type")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("value")),
      writeManifest = true)
    val snap = Compaction.readCommitted(spark, out, cfg)
    assert(snap.count() == 6)
    // Hive-style partition column comes back via basePath inference even
    // though the payload does not store it
    assert(snap.select("event_type").distinct().as[String].collect()
      .toSeq == Seq("a[1] {b}*?"))
  }

  test("manifest names are unique per batch: coincident offset ranges on " +
    "different kafka partitions accumulate instead of silently replacing " +
    "each other — vacuum keeps BOTH batches") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "uniq", flushSize = 30)
    // two distinct batches with the SAME offset range 0..9 (offsets are
    // per-partition in Kafka) — a range-only manifest name would collide
    def batch(kp: Int) = {
      val df = (0L until 10L).map(o => (kp, o, s"p$kp-v$o", s"t$kp"))
        .toDF("kafka_partition", "offset", "value", "event_type")
      Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
        payloadCols = Seq(col("offset"), col("value"), col("event_type")),
        writeManifest = true)
    }
    batch(0); batch(1)
    val manifests = new java.io.File(s"$out/topics/uniq/_graft_manifest")
      .listFiles().map(_.getName).filter(_.startsWith("commit-")).toSeq
    assert(manifests.size == 2,
      s"coincident ranges must yield distinct manifests, got $manifests")
    // a replay of batch 1 regenerates the SAME name (idempotent overwrite)
    batch(1)
    assert(new java.io.File(s"$out/topics/uniq/_graft_manifest")
      .listFiles().count(_.getName.startsWith("commit-")) == 2)
    // both batches stay vouched: vacuum removes nothing, snapshot = 20
    assert(Compaction.vacuum(spark, out, cfg).orphans.isEmpty)
    assert(Compaction.readCommitted(spark, out, cfg).count() == 20)
  }

  test("compactManifests merges N generations into one and the committed " +
    "view is unchanged") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "cm", flushSize = 10)
    (0 until 3).foreach { b =>
      val df = (b * 20L until (b + 1) * 20L)
        .map(o => (0, o, s"v$o", s"t${o % 2}"))
        .toDF("kafka_partition", "offset", "value", "event_type")
      Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
        payloadCols = Seq(col("offset"), col("value"), col("event_type")),
        writeManifest = true)
    }
    val mdir = new java.io.File(s"$out/topics/cm/_graft_manifest")
    assert(mdir.listFiles().count(_.getName.startsWith("commit-")) == 3)
    val removed = CommitManifest.compactManifests(spark, s"$out/topics/cm")
    assert(removed == 3, s"all 3 old generations replaced, got $removed")
    assert(mdir.listFiles().count(_.getName.startsWith("commit-")) == 1)
    // committed view identical: every object still vouched exactly once
    val snap = Compaction.readCommitted(spark, out, cfg)
    assert(snap.count() == 60 &&
      snap.agg(sum("offset")).as[Long].head == (0L until 60L).sum)
    assert(Compaction.vacuum(spark, out, cfg).orphans.isEmpty)
    // idempotent: nothing left to merge
    assert(CommitManifest.compactManifests(spark, s"$out/topics/cm") == 0)
  }

  test("readCommitted above maxExplicitPaths switches to the distributed " +
    "scan + semi-join and an unmanifested zombie stays invisible") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "big", flushSize = 10)
    val df = (0L until 40L).map(o => (0, o, s"v$o", s"t${o % 2}"))
      .toDF("kafka_partition", "offset", "value", "event_type")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("value"), col("event_type")),
      writeManifest = true)
    // plant an unmanifested zombie with valid parquet content
    Seq((0, 999L, "stale")).toDF("kafka_partition", "offset", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/_zs2")
    val part = new java.io.File(s"$out/_zs2").listFiles()
      .filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(part.toPath, new java.io.File(
      s"$out/topics/big/event_type=t0/big+9+0000000999.parquet").toPath)
    // force the semi-join path (4 committed objects > threshold 1)
    val snap = Compaction.readCommitted(spark, out, cfg,
      maxExplicitPaths = 1)
    assert(snap.count() == 40)
    assert(snap.agg(sum("offset")).head.getLong(0) == (0L until 40L).sum)
  }

  test("readCommitted partitionPredicate prunes the manifest before any " +
    "path materializes — only that partition is read, in both modes") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "pp", flushSize = 10)
    val df = (0L until 40L).map(o => (0, o, s"v$o", s"t${o % 2}"))
      .toDF("kafka_partition", "offset", "value", "event_type")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("value"), col("event_type")),
      writeManifest = true)
    val pred = Some(col("encoded_partition") === "event_type=t1")
    val explicit = Compaction.readCommitted(spark, out, cfg, pred)
    assert(explicit.count() == 20 &&
      explicit.select("event_type").distinct().as[String].collect()
        .toSeq == Seq("t1"))
    val scanned = Compaction.readCommitted(spark, out, cfg, pred,
      maxExplicitPaths = 1)
    assert(scanned.count() == 20 &&
      scanned.agg(sum("offset")).head.getLong(0) ==
        (0L until 40L).filter(_ % 2 == 1).sum)
  }

  test("a dotted topic name containing '.keys.' is NOT mistaken for a " +
    "K/V/H sidecar — compaction proceeds (Kafka allows dots in topics)") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "orders.keys.v2", flushSize = 2)
    val df = (0L until 8L).map(o => (0, o, s"v$o", s"t${o % 2}"))
      .toDF("kafka_partition", "offset", "value", "event_type")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("value"), col("event_type")))
    // every object is named 'orders.keys.v2+0+<offset>.parquet' — the
    // '+partition+offset' after the infix is what separates a topic name
    // from a genuine sidecar tail
    val r = Compaction.compact(spark, out, cfg, targetRecords = 100)
    assert(r.filesBefore == 4 && r.files.size == 2, r)
    assert(spark.read.parquet(s"$out/topics/orders.keys.v2").count() == 8)
  }

  test("readCommitted scan mode pins the schema from a committed value " +
    "object — same-format K/V/H sidecars cannot poison the snapshot") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "kp", flushSize = 20, writeKeys = true,
      keyFormat = OutputFormat.Parquet)
    val df = (0L until 40L).map(o => (0, o, s"k$o", s"v$o", s"t${o % 2}"))
      .toDF("kafka_partition", "offset", "key", "value", "event_type")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("value"), col("event_type")),
      writeManifest = true)
    // the lake now holds .keys.parquet sidecars (schema: RecordKey) next
    // to value files; the scan glob matches both. Explicit mode is
    // immune by construction; force the scan+semi-join mode.
    val snap = Compaction.readCommitted(spark, out, cfg,
      maxExplicitPaths = 1)
    assert(snap.columns.contains("value") && snap.columns.contains("offset"),
      s"value schema must survive sidecar footers: ${snap.columns.toSeq}")
    assert(snap.count() == 40)
    assert(snap.agg(sum("offset")).head.getLong(0) == (0L until 40L).sum)
  }

  test("compaction rebuilds the manifest for the new generation — " +
    "vacuum after compact keeps the whole compacted lake") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "cmv", flushSize = 5)
    val df = (0L until 60L).map(o => (0, o, s"v$o", s"t${o % 2}"))
      .toDF("kafka_partition", "offset", "value", "event_type")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("value"), col("event_type")),
      writeManifest = true)
    val r = Compaction.compact(spark, out, cfg, targetRecords = 30)
    assert(r.files.size == 2)
    // the rebuilt manifest vouches for exactly the new generation...
    val keys = spark.read.schema("object_key STRING")
      .json(s"$out/topics/cmv/_graft_manifest/commit-*.json")
      .collect().map(_.getString(0)).toSet
    assert(keys == r.files.map(f =>
      s"${f.encodedPartition}/${f.fileName}").toSet, keys)
    // ...so vacuum finds nothing to delete and the lake stays whole
    assert(Compaction.vacuum(spark, out, cfg).orphans.isEmpty)
    assert(spark.read.parquet(s"$out/topics/cmv").count() == 60)
  }

  test("the manifest compaction rebuilds from the write pass's tags " +
    "equals, line for line, one recomputed by scanning the new generation") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "ctag", flushSize = 5,
      statsColumns = Seq("score", "name", "offset"))
    val df = Seq(0, 1).flatMap { kp =>
      (0L until 24L).map { i =>
        val o = kp * 100L + i
        (kp, o,
          if (i % 7 == 3) null
          else if (i % 11 == 5) java.lang.Double.valueOf(Double.NaN)
          else java.lang.Double.valueOf((i * 37 % 13) - 6.5),
          if (i % 5 == 0) null else s"n${(i * 7) % 10}\u00e9",
          s"t${i % 2}")
      }
    }.toDF("kafka_partition", "offset", "score", "name", "event_type")
    Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("score"), col("name"),
        col("event_type")),
      writeManifest = true)
    val r = Compaction.compact(spark, out, cfg, targetRecords = 8)
    val topicDir = s"$out/topics/ctag"
    val gens = new java.io.File(s"$topicDir/_graft_manifest").listFiles()
      .map(_.getName).filter(n => n.startsWith("commit-") &&
        n.endsWith(".json"))
    assert(gens.length == 1, gens.toSeq)
    // the recomputation: one aggregate over a scan of the new objects
    val fresh = Compaction.readLake(spark, topicDir, cfg,
      r.files.map(f => (f.encodedPartition, f.fileName)))
    val stat = (c: String) =>
      if (c == "name")
        struct(lit(c).as("c"), lit(null).cast("double").as("lo"),
          lit(null).cast("double").as("hi"), min(col(c)).as("slo"),
          max(col(c)).as("shi"))
      else
        struct(lit(c).as("c"), min(col(c)).cast("double").as("lo"),
          max(col(c)).cast("double").as("hi"),
          lit(null).cast("string").as("slo"),
          lit(null).cast("string").as("shi"))
    val scanned = fresh.groupBy(col("__epart"), col("__fname"))
      .agg(min(col("offset")).as("start_offset"),
        max(col("offset")).as("end_offset"),
        count(lit(1)).as("record_count"),
        array(cfg.statsColumns.map(stat): _*).as("col_stats"))
      .withColumn("object_key", concat(col("__epart"), lit("/"),
        col("__fname")))
    val want = scanned.orderBy("object_key")
      .select(to_json(struct(col("object_key"), col("start_offset"),
        col("end_offset"), col("record_count"), col("col_stats"))))
      .as[String].collect().toSeq
    val name = scanned.agg(min("start_offset"), max("end_offset"),
        bit_xor(xxhash64(col("object_key")))).head
    assert(gens.head == s"commit-${name.getLong(0)}-${name.getLong(1)}-" +
      s"${java.lang.Long.toHexString(name.getLong(2))}.json")
    val got = scala.io.Source.fromFile(s"$topicDir/_graft_manifest/" +
      gens.head, "UTF-8").getLines().toSeq
    assert(want.size == r.files.size)
    assert(got == want)
  }
}

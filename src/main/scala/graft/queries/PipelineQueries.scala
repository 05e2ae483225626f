package graft.queries

import graft.Tables
import graft.ingest.{FileNaming, Partitioners, Rotation, SchemaCompat}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ingest pipeline's operators (SURVEY §2.2–§2.5) exercised as
  * relational queries over the `events` table standing in for a Kafka topic:
  * `user_id % 8` plays the kafka partition, `event_id` the offset, `props`
  * the value payload (tombstones injected at `event_id % 97 = 0`).
  * Each query runs the actual library code (Partitioners/Rotation/
  * FileNaming/SchemaCompat) and is verified against a DuckDB oracle that
  * restates the reference's path/naming contracts.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  private def events(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")
      .withColumn("kafka_partition", pmod(col("user_id"), lit(8)))
      .withColumn("value_payload",
        when(col("event_id") % 97 === 0, lit(null).cast("string"))
          .otherwise(col("props")))

  val queries: Map[String, Q] = Map(
    // K1 DefaultPartitioner path contract: partition=<kafkaPartition>.
    "ingest_partition_default" -> ((s, d) =>
      events(s, d)
        .groupBy(Partitioners.defaultPartition(col("kafka_partition"))
          .as("encoded_partition"))
        .agg(count(lit(1)).as("cnt"), min(col("event_id")).as("min_offset"),
          max(col("event_id")).as("max_offset"))
        .orderBy(col("encoded_partition"))),

    // K2 FieldPartitioner: <field>=<value>.
    "ingest_partition_field" -> ((s, d) =>
      events(s, d)
        .groupBy(Partitioners.fieldPartition("event_type" -> col("event_type"))
          .as("encoded_partition"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("encoded_partition"))),

    // K5/K6 TimeBasedPartitioner default path format (hourly).
    "ingest_partition_hourly" -> ((s, d) =>
      events(s, d)
        .groupBy(Partitioners.hourlyPartition(col("ts").cast("timestamp"))
          .as("encoded_partition"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("encoded_partition"))),

    // K7 DailyPartitioner.
    "ingest_partition_daily" -> ((s, d) =>
      events(s, d)
        .groupBy(Partitioners.dailyPartition(col("ts").cast("timestamp"))
          .as("encoded_partition"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("encoded_partition"))),

    // K5 with explicit path.format (Joda pattern) + timezone keys: the
    // reference's fully-configured TimeBasedPartitioner, rendered in
    // America/New_York wall time.
    "ingest_partition_path_format" -> ((s, d) =>
      events(s, d)
        .groupBy(Partitioners.timePartition(col("ts").cast("timestamp"),
          "'dt'=YYYY-MM-dd/'hr'=HH", "America/New_York")
          .as("encoded_partition"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("encoded_partition"))),

    // K8 SchemaPartitioner prefix affix over a field partition.
    "ingest_schema_affix" -> ((s, d) =>
      events(s, d)
        .groupBy(Partitioners.schemaNameAffix(
          Partitioners.fieldPartition("event_type" -> col("event_type")),
          lit("events_v1")).as("encoded_partition"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("encoded_partition"))),

    // K9 tombstone-aware wrapper: null values route to `tombstone`.
    "ingest_tombstone_partition" -> ((s, d) =>
      events(s, d)
        .groupBy(Partitioners.tombstoneAware(col("value_payload"),
          Partitioners.fieldPartition("event_type" -> col("event_type")))
          .as("encoded_partition"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("encoded_partition"))),

    // F1 behavior.on.null.values=ignore.
    "ingest_null_filter" -> ((s, d) =>
      graft.ingest.RecordViews.applyNullBehavior(
        events(s, d), graft.ingest.RecordViews.IgnoreNulls, "value_payload")
        .agg(count(lit(1)).as("n_kept"))),

    // R1+W13+X1: flush.size=100 file assignment + deterministic names.
    "ingest_size_rotation" -> ((s, d) => {
      val assigned = Rotation.assignSizeFiles(events(s, d),
        col("kafka_partition"), col("event_id"), flushSize = 100)
      assigned
        .groupBy(col("kafka_partition"), col(Rotation.FileIndexCol).as("file_index"))
        .agg(min(col("event_id")).as("start_offset"),
          max(col("event_id")).as("end_offset"),
          count(lit(1)).as("n_records"))
        .withColumn("filename", FileNaming.fileName(lit("events"),
          col("kafka_partition"), col("start_offset"), ".parquet"))
        .orderBy(col("kafka_partition"), col("file_index"))
    }),

    // R3 rotate.file.on.partition.change=false × R1 flush.size — the
    // reference's exact interleaving (one open file PER encoded
    // partition, the size trigger counting records WRITER-globally, a
    // commit closing all open files at once): commit era =
    // floor(writer_rank/100) in offset order, a file = (writer, era,
    // encoded partition), named by its min offset. The formerly
    // divergent §2 row, now exact (layout spec-pinned against
    // TopicPartitionWriterTest.java:655-708's fixture in RotationSpec).
    "ingest_partition_change_off" -> ((s, d) => {
      val assigned = Rotation.assignWriterSizeFiles(events(s, d),
        col("kafka_partition"),
        Partitioners.fieldPartition("event_type" -> col("event_type")),
        col("event_id"), flushSize = 100)
      assigned
        .groupBy(col("kafka_partition"),
          col(Rotation.EraCol).as("commit_era"),
          Partitioners.fieldPartition("event_type" -> col("event_type"))
            .as("encoded_partition"))
        .agg(min(col("event_id")).as("start_offset"),
          max(col("event_id")).as("end_offset"),
          count(lit(1)).as("n_records"))
        .withColumn("filename", FileNaming.fileName(lit("events"),
          col("kafka_partition"), col("start_offset"), ".parquet"))
        .orderBy(col("kafka_partition"), col("commit_era"),
          col("encoded_partition"))
    }),

    // R2 event-time rotation buckets (rotate.interval.ms = 1h).
    "ingest_time_rotation" -> ((s, d) =>
      events(s, d)
        .groupBy(
          Partitioners.fieldPartition("event_type" -> col("event_type"))
            .as("encoded_partition"),
          Rotation.timeFileGroup(col("ts").cast("timestamp"), 3600000L)
            .as("file_bucket"))
        .agg(count(lit(1)).as("n_records"), min(col("event_id")).as("start_offset"))
        .orderBy(col("encoded_partition"), col("file_bucket"))),

    // F4 errant-record routing: malformed JSON values divert to the DLQ
    // with a reason, clean records continue — one pass, no driver loop.
    "ingest_dlq_routing" -> ((s, d) => {
      val withCorrupt = events(s, d).withColumn("value_json",
        when(col("event_id") % 101 === 0, lit("corrupt"))
          .otherwise(col("props")))
      val routed = graft.ingest.Dlq.route(withCorrupt, Seq(
        "malformed_json" ->
          graft.ingest.Dlq.malformedJson(col("value_json"), "k INT"),
        "missing_partition_field" ->
          graft.ingest.Dlq.missingPartitionField(col("event_type"))))
      routed.ok.agg(count(lit(1)).as("cnt"))
        .select(lit("ok").as("route"), col("cnt"))
        .unionAll(routed.deadLetter.groupBy(col("dlq_reason").as("route"))
          .agg(count(lit(1)).as("cnt")))
        .orderBy(col("route"))
    }),

    // P5 schema-compatibility projection onto a wider v2 schema.
    "ingest_schema_projection" -> ((s, d) => {
      val target = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("annotation", StringType)))
      SchemaCompat.project(
        events(s, d).select(col("event_id"), col("event_type"), col("value")),
        target).orderBy(col("event_id"))
    }),

    // §1.3a Confluent wire-format deserialization END-TO-END: events
    // rows are framed as registry wire format (0x00 magic + int32 id +
    // Avro body) under TWO schema ids — id 1 (event_id, event_type),
    // id 2 adds cents — with planted poison frames (null value at %109,
    // bad magic at %103, unregistered id 99 at %107). The engine then
    // routes poison to the F4 DLQ, decodes each id under its writer
    // schema, and resolves BACKWARD compatibility with v2 current — v1
    // frames PROJECT onto v2 (cents null), one write group, exactly the
    // reference's rotate-or-project matrix fed from raw bytes. The
    // oracle replays the whole contract from the unframed table: any
    // mis-decoded long/string, mis-routed frame, or mis-projected
    // column moves a count or a sum. Scale: encode and decode are both
    // map-only single passes (reader/writer reused per partition); the
    // registry probe is registry-churn scale, never row count.
    "ingest_wireformat_avro" -> ((s, d) => {
      import graft.ingest.{SchemaEvolution, WireFormat}
      val ev = Tables.load(s, d, "events").select(col("event_id"),
        col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      val registry =
        s"${System.getProperty("java.io.tmpdir")}/graft_wf_registry_" +
          graft.analytics.Similarity.dataFingerprint(s"$d/events.parquet")
      val enc1 = WireFormat.encode(ev.filter(pmod(col("event_id"), lit(2)) === 0),
        Seq("event_id", "event_type"), 1, registry, Seq("event_id"))
      val enc2 = WireFormat.encode(ev.filter(pmod(col("event_id"), lit(2)) === 1),
        Seq("event_id", "event_type", "cents"), 2, registry, Seq("event_id"))
      val framed = enc1.unionByName(enc2).withColumn("value",
        when(col("event_id") % 109 === 0, lit(null).cast("binary"))
          .when(col("event_id") % 103 === 0,
            concat(lit(Array[Byte](1)),
              expr("substring(value, 2, 2147483647)")))
          .when(col("event_id") % 107 === 0,
            concat(lit(Array[Byte](0, 0, 0, 0, 99)),
              expr("substring(value, 6, 2147483647)")))
          // valid header, unreadable body (truncated mid-union): the
          // decode-time DLQ class the header route cannot catch
          .when(col("event_id") % 113 === 0,
            concat(expr("substring(value, 1, 5)"), lit(Array[Byte](2))))
          .otherwise(col("value")))
      val known = WireFormat.loadRegistry(s, registry).keySet
      val routed = WireFormat.route(framed, col("value"), known)
      val decoded = WireFormat.decodeAll(
        routed.ok.select(col("value")), col("value"), registry, Nil)
      // arrival order v2-first: v2 is current, v1 stragglers project
      val groups = SchemaEvolution.resolve(
        SchemaCompat.Backward, decoded.batches.reverse)
      require(groups.size == 1 && groups.head.as.version.contains(2),
        s"BACKWARD must fold both ids into the v2 group, got $groups")
      val ok = groups.head.frame
        .groupBy(concat(lit("ok:"), col("event_type")).as("route"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          count(when(pmod(col("event_id"), lit(2)) === 0, lit(1)))
            .cast("long").as("n_v1"),
          sum(col("cents")).cast("long").as("sum_cents"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
      val dlq = routed.deadLetter
        .select(col("dlq_reason"))
        .unionByName(decoded.corrupt.select(col("dlq_reason")))
        .groupBy(concat(lit("dlq:"), col("dlq_reason")).as("route"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          min(lit(null).cast("long")).as("n_v1"),
          min(lit(null).cast("long")).as("sum_cents"),
          min(lit(null).cast("long")).as("min_id"),
          min(lit(null).cast("long")).as("max_id"))
      ok.unionByName(dlq).orderBy(col("route"))
    }),

    // W1 multi-type Avro unions END-TO-END (round 16; the reference's
    // Connect union shape, DataWriterAvroTest.java:174,784-794): every
    // event carries a 3-branch union column — string (event_type) /
    // long (cents) / record {x} by event_id mod 3, null optional at
    // %97 — written as REAL Avro container files by the sink's write
    // pass with the AvroGroupWriter encoder (the struct-of-nullables field marked `avro.union` becomes a TRUE
    // Avro union in the file schema), then read back through the
    // executor-side FileSystem decode and emitted relationally. The
    // oracle recomputes every branch from the raw events table, so a
    // hash match certifies branch selection, values, and the null
    // optional all survive the round trip — not just the schema shape.
    // Scale: the write is the sink's one-exchange pass, the read a
    // file-grained map-only pass; the 4 deterministic file groups keep
    // bench reps idempotent (X1 overwrite).
    "ingest_avro_union" -> ((s, d) => {
      import graft.ingest.{AvroGroupWriter, IngestConfig, IngestWriter,
        OutputFormat}
      val unionMeta = new MetadataBuilder()
        .putBoolean("avro.union", true).build()
      val innerT = StructType(Seq(StructField("x", LongType)))
      val unionT = StructType(Seq(
        StructField("s", StringType),
        StructField("n", LongType),
        StructField("rec", innerT)))
      val payload = StructType(Seq(
        StructField("offset", LongType),
        StructField("u", unionT, nullable = true, unionMeta)))
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_avrou_" +
        graft.analytics.Similarity.dataFingerprint(s"$d/events.parquet")
      val ev = Tables.load(s, d, "events").select(col("event_id"),
        col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      val nullS = lit(null).cast("string").as("s")
      val nullN = lit(null).cast("long").as("n")
      val nullR = lit(null).cast(innerT).as("rec")
      val src = ev.select(col("event_id").as("offset"),
          when(col("event_id") % 97 === 0, lit(null).cast(unionT))
            .when(col("event_id") % 3 === 0,
              struct(col("event_type").as("s"), nullN, nullR))
            .when(col("event_id") % 3 === 1,
              struct(nullS, col("cents").as("n"), nullR))
            .otherwise(struct(nullS, nullN,
              struct((col("event_id") * 2).as("x")).as("rec"))).as("u"))
        .withColumn("g", pmod(col("offset"), lit(4)))
      val files = IngestWriter.write(src,
        IngestConfig(topic = "u", format = OutputFormat.Avro,
          flushSize = Int.MaxValue),
        concat(lit("g="), col("g")), dir, col("g"), col("offset"),
        payloadCols = Seq(col("offset"), col("u").as("u", unionMeta)))
      AvroGroupWriter.read(s, files.map(_.path), payload)
        .select(col("offset").as("event_id"),
          when(col("u").isNull, lit("null"))
            .when(col("u.s").isNotNull, lit("s"))
            .when(col("u.n").isNotNull, lit("n"))
            .otherwise(lit("rec")).as("branch"),
          col("u.s").as("s_val"), col("u.n").as("n_val"),
          col("u.rec.x").as("rec_x"))
        .orderBy(col("event_id"))
    }),

    // MERGE INTO upsert: a re-priced update batch (every 5th order,
    // version 2) merged into the base lake by key — the lake pays ONE
    // left-anti equi-join (never aggregated/sorted) and the deduped
    // increment unions on top (Compaction.upsert; composes with dynamic
    // partition overwrite at lake scale). Output samples the merged rows.
    "lake_upsert" -> ((s, d) => {
      // prices ride as integer cents (floor(x*100+0.5) — the same
      // half-mode-free snap as quantizeInt8), so the whole merge is
      // FP-rounding-free on both engines
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long")
            .as("price_cents"))
        .withColumn("version", lit(1L))
      val updates = base.filter(col("o_orderkey") % 5 === 0)
        .withColumn("price_cents", col("price_cents") + 10000L)
        .withColumn("version", lit(2L))
      // the %7 sample is coprime with the %5 update set, so BOTH merge
      // branches (replaced rows and untouched pass-through rows) land in
      // the compared output
      graft.ingest.Compaction.upsert(base, updates,
          Seq("o_orderkey"), "version")
        .filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("version"), col("price_cents"))
        .orderBy(col("o_orderkey"))
    }),

    // Full CDC merge with delete retraction (upsertVersionedCdc): v2
    // repriced upserts (%5), v3 delete tombstones (%3 — null payload,
    // key+version only), and STALE v0 deletes (%11) that must lose to
    // the v1 base rows. Overlaps exercise every rule: %15 keys see both
    // an upsert and a newer delete (delete wins), %33/%55 keys see a
    // stale delete plus live rows (stale tombstone is a no-op).
    "lake_cdc_merge" -> ((s, d) => {
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long")
            .as("price_cents"))
        .withColumn("version", lit(1L))
      val upd5 = base.filter(col("o_orderkey") % 5 === 0)
        .withColumn("price_cents", col("price_cents") + 10000L)
        .withColumn("version", lit(2L))
        .withColumn("is_delete", lit(false))
      val del3 = base.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_orderstatus", lit(null).cast("string"))
        .withColumn("price_cents", lit(null).cast("long"))
        .withColumn("version", lit(3L))
        .withColumn("is_delete", lit(true))
      val staleDel11 = base.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderstatus", lit(null).cast("string"))
        .withColumn("price_cents", lit(null).cast("long"))
        .withColumn("version", lit(0L))
        .withColumn("is_delete", lit(true))
      graft.ingest.Compaction.upsertVersionedCdc(base,
          upd5.unionByName(del3).unionByName(staleDel11),
          Seq("o_orderkey"), "version", "is_delete")
        .filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("version"), col("price_cents"))
        .orderBy(col("o_orderkey"))
    }),

    // Offset-watermark TIME TRAVEL over the manifest-committed lake:
    // two real Ingest.run commits land in a scratch lake (batch 1 =
    // offsets <= cut, batch 2 = the rest, manifests on), then
    // readCommitted(asOfEndOffset = cut) must see exactly batch 1 while
    // the plain read sees both — offsets are the engine's clock, so the
    // commit-aligned watermark is row-exact and the oracle replays it
    // straight off the events table. Deterministic object names make
    // the scratch writes replay-idempotent (X1), so reruns heal any
    // partial state instead of double-counting. The two-commit fixture
    // is built ONCE per source-table content (dir keyed by
    // dataFingerprint — file names/sizes/mtimes, so regenerated data
    // forces a rebuild while bench reps skip straight to the read): the
    // query's timed cost is the manifest-filtered as-of READ, which is
    // the operator under test, not fixture construction.
    "lake_time_travel" -> ((s, d) => {
      val ev = events(s, d)
        .withColumn("kafka_partition", pmod(col("user_id"), lit(4)))
        .withColumnRenamed("event_id", "offset")
      val cut = ev.agg(floor(max(col("offset")) / 2).cast("long"))
        .head.getLong(0)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_tt_lake_" +
        graft.analytics.Similarity.dataFingerprint(d)
      val cfg = graft.ingest.IngestConfig(topic = "events_tt",
        flushSize = 500)
      val spec = graft.ingest.PartitionerSpec.Fields(Seq("event_type"))
      val payload = Seq(col("offset"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      if (!new java.io.File(s"$dir/fixture_done").exists()) {
        graft.ingest.Ingest.run(ev.filter(col("offset") <= cut), cfg, spec,
          dir, payloadCols = payload, writeManifest = true)
        graft.ingest.Ingest.run(ev.filter(col("offset") > cut), cfg, spec,
          dir, payloadCols = payload, writeManifest = true)
        new java.io.File(s"$dir/fixture_done").createNewFile()
      }
      val asof = graft.ingest.Compaction.readCommitted(s, dir, cfg,
          asOfEndOffset = Some(cut))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_asof"))
      val full = graft.ingest.Compaction.readCommitted(s, dir, cfg)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_full"))
      full.join(asof, Seq("event_type"), "left")
        .select(col("event_type").cast("string").as("event_type"),
          coalesce(col("n_asof"), lit(0L)).as("n_asof"), col("n_full"))
        .orderBy(col("event_type"))
    }),

    // Materialized summary serving (plans/SummaryRewrite): the dashboard
    // aggregate below runs AGAINST THE BASE LAKE, and the injected
    // optimizer rule transparently answers it from the registered
    // per-(event_type, dow) summary — count/sum/min/max from the rollup
    // partials, count(DISTINCT dow) from the preserved dim tuples, and
    // the FILTER clause translated because its predicate is constant per
    // summary group. The oracle replays the whole aggregate from the raw
    // events table, so a hash match certifies the rewrite is EXACT, not
    // just plausible (SummaryRewriteSpec pins that the plan really does
    // scan the summary, never the base). Scale: at 100 TB this is the
    // engine's biggest single win — the grouped aggregate answers from
    // |event_type|x7 summary rows instead of a full lake scan, with the
    // dim filter pushed into the summary's parquet scan. The base lake
    // and summary build once per source-table content (fingerprint-keyed
    // dir, the lake_time_travel discipline); the timed cost is the
    // SERVED aggregate, the operator under test. Nullable cents (every
    // 97th event) exercises m_cnt vs m_count on a real column.
    "lake_summary_serve" -> ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_sumlake_" +
        graft.analytics.Similarity.dataFingerprint(d)
      val baseLake = s"$dir/base"
      if (!new java.io.File(s"$dir/fixture_done").exists()) {
        events(s, d).filter(col("ts").isNotNull)
          .select(col("event_type"),
            (weekday(col("ts").cast("date")) + lit(1)).cast("long")
              .as("dow"),
            when(col("event_id") % 97 === 0, lit(null).cast("long"))
              .otherwise(floor(col("value") * 100.0 + 0.5).cast("long"))
              .as("cents"))
          .write.mode("overwrite").parquet(baseLake)
        graft.plans.SummaryRewrite.buildSummary(s.read.parquet(baseLake),
            Seq("event_type", "dow"), Seq("cents"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/summary")
        new java.io.File(s"$dir/fixture_done").createNewFile()
      }
      graft.plans.SummaryRewrite.install(s)
      graft.plans.SummaryRewrite.register(s.read.parquet(baseLake),
        s.read.parquet(s"$dir/summary"), Seq("event_type", "dow"),
        Seq("cents"))
      s.read.parquet(baseLake)
        .filter(col("dow") <= 5)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          count(col("cents")).cast("long").as("n_cents"),
          sum(col("cents")).cast("long").as("sum_cents"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"),
          countDistinct(col("dow")).cast("long").as("n_dow"),
          round(avg(col("cents")), 4).as("avg_cents"),
          expr("CAST(sum(cents) FILTER (WHERE dow <= 2) AS BIGINT)")
            .as("early_cents"))
        .orderBy(col("event_type"))
    }),

    // Incremental summary maintenance: the base splits into three
    // micro-batch deltas (event_id mod 3 — the streaming sink's
    // per-batch slices, StreamingIngest.startSummarySink), each delta
    // aggregates independently with buildSummary, and mergeSummaries
    // folds the slices into the servable table. The rollup partials form
    // a commutative monoid (counts and sums add, minima min, maxima
    // max), so the merged output must equal the one-shot summary of the
    // whole base — which is exactly what the oracle recomputes from the
    // raw events table. Scale: each delta aggregate is batch-sized, the
    // merge is summary-grain (|dims| rows per slice) — the lake is never
    // re-scanned to refresh the summary.
    "lake_summary_incremental" -> ((s, d) => {
      val b = events(s, d).filter(col("ts").isNotNull)
        .select(col("event_id"), col("event_type"),
          (weekday(col("ts").cast("date")) + lit(1)).cast("long")
            .as("dow"),
          when(col("event_id") % 97 === 0, lit(null).cast("long"))
            .otherwise(floor(col("value") * 100.0 + 0.5).cast("long"))
            .as("cents"))
      val slices = (0 until 3).map(k =>
          graft.plans.SummaryRewrite.buildSummary(
            b.filter(pmod(col("event_id"), lit(3)) === k),
            Seq("event_type", "dow"), Seq("cents")))
        .reduce(_.unionByName(_))
      graft.plans.SummaryRewrite.mergeSummaries(slices,
          Seq("event_type", "dow"), Seq("cents"))
        .select(col("event_type"), col("dow"), col("m_count"),
          col("m_sum_cents"), col("m_cnt_cents"), col("m_min_cents"),
          col("m_max_cents"))
        .orderBy(col("event_type"), col("dow"))
    }),

    // ROLLUP served from the summary: grouping sets analyze to
    // Aggregate-over-Expand, and the rewrite re-bases the Expand on
    // summary rows — the grouping-set algebra (per-set nulling,
    // spark_grouping_id, the grouping() projections) is untouched, only
    // the rows underneath change from lake-scale to summary-scale. At
    // 100 TB a ROLLUP Expand would otherwise multiply the LAKE by the
    // number of grouping sets before the shuffle; served, it multiplies
    // |summary| rows. grouping() flags ride along so subtotal rows are
    // engine-distinguishable from genuine null dims, and NULLS FIRST
    // ordering is pinned on both sides (Spark's asc default vs DuckDB's
    // NULLS LAST would otherwise shuffle the subtotal rows).
    "lake_summary_rollup" -> ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_sumlake_" +
        graft.analytics.Similarity.dataFingerprint(d)
      val baseLake = s"$dir/base"
      if (!new java.io.File(s"$dir/fixture_done").exists()) {
        events(s, d).filter(col("ts").isNotNull)
          .select(col("event_type"),
            (weekday(col("ts").cast("date")) + lit(1)).cast("long")
              .as("dow"),
            when(col("event_id") % 97 === 0, lit(null).cast("long"))
              .otherwise(floor(col("value") * 100.0 + 0.5).cast("long"))
              .as("cents"))
          .write.mode("overwrite").parquet(baseLake)
        graft.plans.SummaryRewrite.buildSummary(s.read.parquet(baseLake),
            Seq("event_type", "dow"), Seq("cents"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/summary")
        new java.io.File(s"$dir/fixture_done").createNewFile()
      }
      graft.plans.SummaryRewrite.install(s)
      graft.plans.SummaryRewrite.register(s.read.parquet(baseLake),
        s.read.parquet(s"$dir/summary"), Seq("event_type", "dow"),
        Seq("cents"))
      s.read.parquet(baseLake)
        .rollup(col("event_type"), col("dow"))
        .agg(grouping(col("event_type")).cast("long").as("g_et"),
          grouping(col("dow")).cast("long").as("g_dow"),
          count(lit(1)).cast("long").as("n_events"),
          count(col("cents")).cast("long").as("n_cents"),
          sum(col("cents")).cast("long").as("sum_cents"),
          max(col("cents")).as("max_cents"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("dow"))
    }),

    // Exact percentiles served from the HISTOGRAM summary kind: the
    // rollup partials cannot answer a median, but a (dims, value)→count
    // histogram can — Spark's frequency-weighted Percentile reaches the
    // identical value→count buffer the per-row pass builds, so the
    // served result is BIT-exact, and count(DISTINCT cents) is exact
    // because distinct values survive the grain (sum rides along as
    // Σ v·cnt in exact integer arithmetic). This is the q71–q74
    // histogram-grain discipline promoted to a transparent serving
    // index: at 100 TB the quantile dashboard reads |dims × distinct
    // cents| rows, never the lake. The oracle replays percentile as
    // DuckDB quantile_cont (the q25-pinned equivalence), rounded 4.
    "lake_summary_percentile" -> ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_sumlake_" +
        graft.analytics.Similarity.dataFingerprint(d)
      val baseLake = s"$dir/base"
      if (!new java.io.File(s"$dir/fixture_done").exists()) {
        events(s, d).filter(col("ts").isNotNull)
          .select(col("event_type"),
            (weekday(col("ts").cast("date")) + lit(1)).cast("long")
              .as("dow"),
            when(col("event_id") % 97 === 0, lit(null).cast("long"))
              .otherwise(floor(col("value") * 100.0 + 0.5).cast("long"))
              .as("cents"))
          .write.mode("overwrite").parquet(baseLake)
        graft.plans.SummaryRewrite.buildSummary(s.read.parquet(baseLake),
            Seq("event_type", "dow"), Seq("cents"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/summary")
        new java.io.File(s"$dir/fixture_done").createNewFile()
      }
      if (!new java.io.File(s"$dir/hist_done").exists()) {
        graft.plans.SummaryRewrite.buildHistSummary(
            s.read.parquet(baseLake), Seq("event_type", "dow"), "cents")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/hist")
        new java.io.File(s"$dir/hist_done").createNewFile()
      }
      graft.plans.SummaryRewrite.install(s)
      graft.plans.SummaryRewrite.registerHist(s.read.parquet(baseLake),
        s.read.parquet(s"$dir/hist"), Seq("event_type", "dow"), "cents")
      s.read.parquet(baseLake)
        .filter(col("dow") <= 5)
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(cents, 0.5)"), 4).as("p50_cents"),
          round(expr("percentile(cents, 0.9)"), 4).as("p90_cents"),
          countDistinct(col("cents")).cast("long").as("n_vals"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .orderBy(col("event_type"))
    }),

    // STAR-SCHEMA serving: the dashboard groups by a DIMENSION-TABLE
    // column (customer market segment) over base JOIN dim, and the
    // rewrite swaps only the base side for its summary — the join, the
    // dim table, and every expression over it stay verbatim. Exactness
    // is the multiplicity algebra: the join key (o_custkey) is a summary
    // dim, so each summary row joins exactly as its m_count base rows
    // would — count(*) = Σ m_count over join rows, sums fold subtotals,
    // count(DISTINCT o_custkey) is grain-preserved. At 100 TB the join's
    // probe side shrinks from the orders lake to a customers×status
    // summary (orders:customers is 10:1 in TPC-H; real lakes are far
    // steeper), which is the classic aggregate-join-back MV. The oracle
    // replays the whole join+aggregate from the raw orders and customer
    // tables.
    "lake_summary_star" -> ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_starlake_" +
        graft.analytics.Similarity.dataFingerprint(d)
      val baseLake = s"$dir/base"
      if (!new java.io.File(s"$dir/fixture_done").exists()) {
        Tables.load(s, d, "orders")
          .select(col("o_custkey"), col("o_orderstatus"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long")
              .as("cents"))
          .write.mode("overwrite").parquet(baseLake)
        graft.plans.SummaryRewrite.buildSummary(s.read.parquet(baseLake),
            Seq("o_custkey", "o_orderstatus"), Seq("cents"))
          .coalesce(4).write.mode("overwrite").parquet(s"$dir/summary")
        new java.io.File(s"$dir/fixture_done").createNewFile()
      }
      graft.plans.SummaryRewrite.install(s)
      graft.plans.SummaryRewrite.register(s.read.parquet(baseLake),
        s.read.parquet(s"$dir/summary"),
        Seq("o_custkey", "o_orderstatus"), Seq("cents"))
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      s.read.parquet(baseLake)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderstatus"))
        .agg(count(lit(1)).cast("long").as("n_orders"),
          sum(col("cents")).cast("long").as("sum_cents"),
          countDistinct(col("o_custkey")).cast("long").as("n_cust"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
        .orderBy(col("c_mktsegment"), col("o_orderstatus"))
    }),

    // Incremental view maintenance under MERGE INTO
    // (SummaryRewrite.refreshOnUpsert): a reprice batch MOVES every 5th
    // order to status 'R' (cross-group — both the old and new group must
    // recompute; min/max cannot survive a replacement by delta algebra),
    // the refresh recomputes ONLY the touched (status, bucket) groups
    // and keeps every untouched group's partials verbatim. The output is
    // the refreshed summary itself; the oracle computes the same summary
    // from the logically-merged base (the lake_upsert CASE replay), so a
    // hash match certifies refreshed == full rebuild. Scale: the refresh
    // scans the update batch plus the touched groups' slice of the lake
    // — the cost tracks the MERGE, not the lake.
    "lake_summary_ivm" -> ((s, d) => {
      val oldBase = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus").as("status"),
          (col("o_custkey") % 13).cast("long").as("bucket"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long")
            .as("cents"))
        .withColumn("version", lit(1L))
      val upd = oldBase.filter(col("o_orderkey") % 5 === 0)
        .withColumn("status", lit("R"))
        .withColumn("cents", col("cents") + 10000L)
        .withColumn("version", lit(2L))
      val newBase = graft.ingest.Compaction.upsert(oldBase, upd,
        Seq("o_orderkey"), "version")
      graft.plans.SummaryRewrite.refreshOnUpsert(
          oldBase, newBase, upd, Seq("o_orderkey"),
          graft.plans.SummaryRewrite.buildSummary(oldBase,
            Seq("status", "bucket"), Seq("cents")),
          Seq("status", "bucket"), Seq("cents"))
        .orderBy(col("status"), col("bucket"))
    }),

    // Approximate-distinct serving (the DAU pattern): ONE HLL register
    // summary at (event_type, dow) grain answers distinct-user counts
    // for ANY rollup of its dims — here served at event_type grain.
    // Register max is an idempotent monoid, so the coarse registers
    // equal a direct build at that grain EXACTLY, which is what the
    // oracle replays (engine-portable 60-bit md5 hash, integer-exact
    // harmonic sum, precomputed linear-counting table — the
    // profile_hll_distinct construction promoted to a serving index).
    // Scale: the register table is |dims| x 512 rows at ANY corpus
    // size; the distinct-user dashboard never rescans the lake and
    // never re-shuffles raw user ids.
    "lake_summary_hll" -> ((s, d) => {
      val b = events(s, d).filter(col("ts").isNotNull)
        .select(col("event_type"),
          (weekday(col("ts").cast("date")) + lit(1)).cast("long")
            .as("dow"),
          col("user_id").cast("string").as("uid"))
      val hll = graft.plans.SummaryRewrite.buildHllSummary(b,
        Seq("event_type", "dow"), col("uid"))
      val est = graft.plans.SummaryRewrite.serveHll(hll, Seq("event_type"))
      val exact = b.groupBy(col("event_type"))
        .agg(countDistinct(col("uid")).cast("long").as("exact_distinct"))
      est.join(exact, Seq("event_type"))
        .select(col("event_type"), col("est_distinct"),
          col("exact_distinct"),
          round(abs(col("est_distinct") - col("exact_distinct")) * 100.0
            / col("exact_distinct"), 2).as("err_pct"))
        .orderBy(col("event_type"))
    })
  )

  val oracles: Map[String, String] = Map(
    "ingest_partition_default" ->
      """SELECT concat('partition=', CAST(user_id % 8 AS VARCHAR)) AS encoded_partition,
        |  count(*) AS cnt, min(event_id) AS min_offset, max(event_id) AS max_offset
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "ingest_partition_field" ->
      """SELECT concat('event_type=', event_type) AS encoded_partition,
        |  count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "ingest_partition_hourly" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP),
        |    'year=%Y/month=%m/day=%d/hour=%H') AS encoded_partition,
        |  count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "ingest_partition_daily" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP),
        |    'year=%Y/month=%m/day=%d') AS encoded_partition,
        |  count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // timezone(tz, timezone('UTC', naive)) is session-timezone-independent:
    // the inner call pins the naive UTC instant, the outer renders NY wall.
    "ingest_partition_path_format" ->
      """SELECT strftime(timezone('America/New_York',
        |    timezone('UTC', CAST(ts AS TIMESTAMP))),
        |    'dt=%Y-%m-%d/hr=%H') AS encoded_partition,
        |  count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "ingest_schema_affix" ->
      """SELECT concat('schema_name=events_v1/event_type=', event_type)
        |    AS encoded_partition,
        |  count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "ingest_tombstone_partition" ->
      """SELECT CASE WHEN event_id % 97 = 0 THEN 'tombstone'
        |    ELSE concat('event_type=', event_type) END AS encoded_partition,
        |  count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "ingest_null_filter" ->
      """SELECT count(*) AS n_kept FROM events
        |WHERE NOT (event_id % 97 = 0)""".stripMargin,

    "ingest_size_rotation" ->
      """WITH numbered AS (
        |  SELECT user_id % 8 AS kafka_partition, event_id,
        |    row_number() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS rn
        |  FROM events)
        |SELECT kafka_partition,
        |  CAST(floor(rn / 100) AS BIGINT) AS file_index,
        |  min(event_id) AS start_offset, max(event_id) AS end_offset,
        |  count(*) AS n_records,
        |  concat('events+', CAST(kafka_partition AS VARCHAR), '+',
        |    lpad(CAST(min(event_id) AS VARCHAR), 10, '0'), '.parquet') AS filename
        |FROM numbered GROUP BY kafka_partition, floor(rn / 100)
        |ORDER BY kafka_partition, file_index""".stripMargin,

    "ingest_partition_change_off" ->
      """WITH numbered AS (
        |  SELECT user_id % 8 AS kafka_partition, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS rn
        |  FROM events)
        |SELECT kafka_partition,
        |  CAST(floor(rn / 100) AS BIGINT) AS commit_era,
        |  concat('event_type=', event_type) AS encoded_partition,
        |  min(event_id) AS start_offset, max(event_id) AS end_offset,
        |  count(*) AS n_records,
        |  concat('events+', CAST(kafka_partition AS VARCHAR), '+',
        |    lpad(CAST(min(event_id) AS VARCHAR), 10, '0'), '.parquet') AS filename
        |FROM numbered GROUP BY kafka_partition, floor(rn / 100), event_type
        |ORDER BY kafka_partition, commit_era, encoded_partition""".stripMargin,

    "ingest_time_rotation" ->
      """SELECT concat('event_type=', event_type) AS encoded_partition,
        |  CAST(floor(epoch_ms(CAST(ts AS TIMESTAMP)) / 3600000) AS BIGINT)
        |    AS file_bucket,
        |  count(*) AS n_records, min(event_id) AS start_offset
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ingest_dlq_routing" ->
      """SELECT 'malformed_json' AS route, count(*) AS cnt FROM events
        |WHERE event_id % 101 = 0
        |UNION ALL
        |SELECT 'ok' AS route, count(*) AS cnt FROM events
        |WHERE NOT (event_id % 101 = 0)
        |ORDER BY route""".stripMargin,

    "ingest_schema_projection" ->
      """SELECT event_id, event_type, value,
        |  CAST(NULL AS VARCHAR) AS annotation
        |FROM events ORDER BY event_id""".stripMargin,

    // the wire-format contract replayed from the unframed table: same
    // poison precedence (null > bad_magic > unknown_id), same parity
    // version split, same BACKWARD projection (v1 cents → NULL)
    "ingest_wireformat_avro" ->
      """WITH ev AS (SELECT event_id, event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
        |    CASE WHEN event_id % 109 = 0 THEN 'dlq:null_value'
        |         WHEN event_id % 103 = 0 THEN 'dlq:bad_magic'
        |         WHEN event_id % 107 = 0 THEN 'dlq:unknown_schema_id'
        |         WHEN event_id % 113 = 0 THEN 'dlq:corrupt_avro_body'
        |         ELSE 'ok:' || event_type END AS route,
        |    event_id % 2 AS ver
        |  FROM events)
        |SELECT route, CAST(count(*) AS BIGINT) AS n_rows,
        |  CASE WHEN route LIKE 'ok:%' THEN
        |    CAST(count(*) FILTER (ver = 0) AS BIGINT) END AS n_v1,
        |  CASE WHEN route LIKE 'ok:%' THEN
        |    CAST(sum(cents) FILTER (ver = 1) AS BIGINT) END AS sum_cents,
        |  CASE WHEN route LIKE 'ok:%' THEN min(event_id) END AS min_id,
        |  CASE WHEN route LIKE 'ok:%' THEN max(event_id) END AS max_id
        |FROM ev GROUP BY route ORDER BY route""".stripMargin,

    // every branch of the union readback recomputed from raw events —
    // same %97 > %3 precedence as the writer
    "ingest_avro_union" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 97 = 0 THEN 'null'
        |       WHEN event_id % 3 = 0 THEN 's'
        |       WHEN event_id % 3 = 1 THEN 'n' ELSE 'rec' END AS branch,
        |  CASE WHEN event_id % 97 <> 0 AND event_id % 3 = 0
        |       THEN event_type END AS s_val,
        |  CASE WHEN event_id % 97 <> 0 AND event_id % 3 = 1
        |       THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS n_val,
        |  CASE WHEN event_id % 97 <> 0 AND event_id % 3 = 2
        |       THEN CAST(event_id * 2 AS BIGINT) END AS rec_x
        |FROM events ORDER BY event_id""".stripMargin,

    "lake_upsert" ->
      """SELECT o_orderkey,
        |  CAST(CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END AS BIGINT)
        |    AS version,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |    + CASE WHEN o_orderkey % 5 = 0 THEN 10000 ELSE 0 END
        |    AS price_cents
        |FROM orders WHERE o_orderkey % 7 = 0
        |ORDER BY o_orderkey""".stripMargin,

    // keys hit by the v3 tombstone vanish; the v2 upsert survives only
    // where no newer delete follows; the stale v0 delete never shows
    "lake_cdc_merge" ->
      """SELECT o_orderkey,
        |  CAST(CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END AS BIGINT)
        |    AS version,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |    + CASE WHEN o_orderkey % 5 = 0 THEN 10000 ELSE 0 END
        |    AS price_cents
        |FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0
        |ORDER BY o_orderkey""".stripMargin,

    // the commit-aligned watermark is row-exact, so the snapshot replay
    // is a plain offset filter
    "lake_time_travel" ->
      """WITH c AS (SELECT CAST(floor(max(event_id) / 2) AS BIGINT)
        |    AS cut FROM events)
        |SELECT event_type,
        |  CAST(sum(CASE WHEN event_id <= c.cut THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_asof,
        |  CAST(count(*) AS BIGINT) AS n_full
        |FROM events, c GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // replays the base-lake projection (isodow = weekday+1, cents with
    // the %97 null holes) and the dashboard aggregate straight off the
    // events table — hash equality certifies the summary-served rewrite
    "lake_summary_serve" ->
      """WITH b AS (SELECT event_type,
        |    CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
        |    CASE WHEN event_id % 97 = 0 THEN NULL
        |      ELSE CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS cents
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(cents) AS BIGINT) AS n_cents,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(min(cents) AS BIGINT) AS min_cents,
        |  CAST(max(cents) AS BIGINT) AS max_cents,
        |  CAST(count(DISTINCT dow) AS BIGINT) AS n_dow,
        |  round(avg(cents), 4) AS avg_cents,
        |  CAST(sum(cents) FILTER (dow <= 2) AS BIGINT) AS early_cents
        |FROM b WHERE dow <= 5 GROUP BY 1 ORDER BY 1""".stripMargin,

    // the merged slices must equal the one-shot summary of the base —
    // the oracle computes that one-shot aggregate directly
    "lake_summary_incremental" ->
      """WITH b AS (SELECT event_type,
        |    CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
        |    CASE WHEN event_id % 97 = 0 THEN NULL
        |      ELSE CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS cents
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT event_type, dow,
        |  CAST(count(*) AS BIGINT) AS m_count,
        |  CAST(sum(cents) AS BIGINT) AS m_sum_cents,
        |  CAST(count(cents) AS BIGINT) AS m_cnt_cents,
        |  CAST(min(cents) AS BIGINT) AS m_min_cents,
        |  CAST(max(cents) AS BIGINT) AS m_max_cents
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the same base-lake replay under ROLLUP; grouping() flags and
    // NULLS FIRST ordering pinned identically on both engines
    "lake_summary_rollup" ->
      """WITH b AS (SELECT event_type,
        |    CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
        |    CASE WHEN event_id % 97 = 0 THEN NULL
        |      ELSE CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS cents
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT event_type, dow,
        |  CAST(GROUPING(event_type) AS BIGINT) AS g_et,
        |  CAST(GROUPING(dow) AS BIGINT) AS g_dow,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(cents) AS BIGINT) AS n_cents,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(max(cents) AS BIGINT) AS max_cents
        |FROM b GROUP BY ROLLUP (event_type, dow)
        |ORDER BY event_type NULLS FIRST, dow NULLS FIRST""".stripMargin,

    // quantile_cont is the pinned DuckDB twin of Spark percentile (q25);
    // both ignore NULL cents, round 4 guards double drift
    "lake_summary_percentile" ->
      """WITH b AS (SELECT event_type,
        |    CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
        |    CASE WHEN event_id % 97 = 0 THEN NULL
        |      ELSE CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS cents
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT event_type,
        |  round(quantile_cont(cents, 0.5), 4) AS p50_cents,
        |  round(quantile_cont(cents, 0.9), 4) AS p90_cents,
        |  CAST(count(DISTINCT cents) AS BIGINT) AS n_vals,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM b WHERE dow <= 5 GROUP BY 1 ORDER BY 1""".stripMargin,

    // replays the star join+aggregate straight off orders x customer
    "lake_summary_star" ->
      """SELECT c_mktsegment, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |  CAST(min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS min_cents,
        |  CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS max_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the refreshed summary must equal the summary of the logically
    // merged base — the oracle computes that directly with the
    // lake_upsert CASE replay of the reprice-and-move batch
    "lake_summary_ivm" ->
      """WITH m AS (SELECT
        |    CASE WHEN o_orderkey % 5 = 0 THEN 'R'
        |      ELSE o_orderstatus END AS status,
        |    CAST(o_custkey % 13 AS BIGINT) AS bucket,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      + CASE WHEN o_orderkey % 5 = 0 THEN 10000 ELSE 0 END
        |      AS cents
        |  FROM orders)
        |SELECT status, bucket,
        |  CAST(count(*) AS BIGINT) AS m_count,
        |  CAST(sum(cents) AS BIGINT) AS m_sum_cents,
        |  CAST(count(cents) AS BIGINT) AS m_cnt_cents,
        |  CAST(min(cents) AS BIGINT) AS m_min_cents,
        |  CAST(max(cents) AS BIGINT) AS m_max_cents
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // direct register build at the SERVED grain — equal to the summary
    // refold by max idempotence; same 60-bit hash / harmonic / LC chain
    // as profile_hll_distinct
    "lake_summary_hll" ->
      (s"""WITH b AS (SELECT event_type, CAST(user_id AS VARCHAR) AS uid
         |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         |hh AS (SELECT event_type,
         |    CAST(CONCAT('0x', substr(md5(uid), 1, 15)) AS BIGINT) AS h
         |  FROM b),
         |hb AS (SELECT event_type, h % 512 AS bkt, h // 512 AS rest
         |  FROM hh),
         |hr AS (SELECT event_type, bkt, max(CASE WHEN rest = 0 THEN 52
         |    ELSE 52 - length(bin(rest)) END) AS mr
         |  FROM hb GROUP BY 1, 2),
         |ha AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nb,
         |    CAST(sum(1::BIGINT << (52 - mr)) AS BIGINT) AS sp
         |  FROM hr GROUP BY 1),
         |hf AS (SELECT event_type, 512 - nb AS v,
         |    (512 - nb) * 4503599627370496 + sp AS s FROM ha),
         |he AS (SELECT event_type, v,
         |    CAST(round(${graft.analytics.Sketches.hllNum(9)}
         |      / CAST(s AS DOUBLE), 0) AS BIGINT) AS raw FROM hf),
         |hest AS (SELECT event_type, CASE WHEN v > 0 AND raw <= 1280
         |    THEN (${graft.analytics.Sketches.hllLcTable(9)
                       .mkString("[", ", ", "]")})[CAST(v AS INT)]
         |    ELSE raw END AS est_distinct FROM he),
         |hex AS (SELECT event_type, CAST(count(DISTINCT uid) AS BIGINT)
         |    AS exact_distinct FROM b GROUP BY 1)
         |SELECT event_type, est_distinct, exact_distinct,
         |  round(abs(est_distinct - exact_distinct) * 100.0
         |    / exact_distinct, 2) AS err_pct
         |FROM hest JOIN hex USING (event_type)
         |ORDER BY event_type""").stripMargin
  )
}

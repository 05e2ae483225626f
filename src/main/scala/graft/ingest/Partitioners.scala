package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Partition-key encoders (SURVEY §2.4, K1–K13).
  *
  * The reference computes `encodePartition(record) -> String` row-at-a-time in
  * Java (e.g. `partition=3`, `int=16`, `'year'=2024/'month'=01/...`,
  * `schema_name=s/...`, `tombstone`); observable contracts pinned by
  * `kafka-connect-s3/src/test/java/.../TopicPartitionWriterTest.java:287,357-359,2242-2347`.
  *
  * Re-expressed here as pure `Column`-producing functions so the encoders run
  * inside whole-stage codegen, and so the resulting Hive-style `k=v` layout
  * enables Catalyst partition pruning on read — the property that makes the
  * written data lake queryable at 100 TB.
  */
object Partitioners {

  /** K1 DefaultPartitioner: `partition=<kafkaPartition>`
    * (contract: TopicPartitionWriterTest.java:287). */
  def defaultPartition(kafkaPartition: Column): Column =
    concat(lit("partition="), kafkaPartition.cast("string"))

  /** K2/K3 FieldPartitioner: `f1=v1/f2=v2/...`
    * (TopicPartitionWriterTest.java:329-378 single, :749-789 multi).
    * K4 nested `outer.inner` paths work by passing `col("outer.inner")`. */
  def fieldPartition(fields: (String, Column)*): Column =
    concat_ws("/", fields.map { case (name, c) =>
      concat(lit(name + "="), c.cast("string"))
    }: _*)

  /** K5/K6 TimeBasedPartitioner with the reference's default path format
    * `'year'=YYYY/'month'=MM/'day'=dd/'hour'=HH`
    * (S3SinkConnectorTestBase.java:84-86), Joda pattern mapped to
    * java.time/`date_format`. */
  def hourlyPartition(ts: Column): Column =
    date_format(ts, "'year'=yyyy/'month'=MM/'day'=dd/'hour'=HH")

  /** K7 DailyPartitioner preset. */
  def dailyPartition(ts: Column): Column =
    date_format(ts, "'year'=yyyy/'month'=MM/'day'=dd")

  /** K5 fully-configurable TimeBasedPartitioner: the reference's
    * `path.format` (Joda pattern, e.g. `'year'=YYYY/'month'=MM/'day'=dd`)
    * and `timezone` keys (S3SinkConnectorConfig PARTITIONER group;
    * TopicPartitionWriterTest.java:357-359 exercises custom formats).
    * Rendering happens in the configured zone: the UTC instant shifts via
    * `from_utc_timestamp`, then `date_format` writes the wall-clock fields.
    * The Joda tokens the reference's configs use translate 1:1 to
    * java.time except `YYYY` (Joda year-of-era vs java.time week-year) —
    * mapped to `yyyy` here.
    *
    * `locale` (reference: TimeBasedPartitioner's `locale` config,
    * S3SinkConnectorTestBase.java:84-86) matters only for TEXT tokens —
    * month names `MMM`/`MMMM`, day names `EEE`/`EEEE`; every numeric
    * token is locale-free. Spark's `date_format` renders text tokens in
    * its fixed internal locale, so localized tokens are rendered instead
    * from 12/7-entry name arrays resolved ONCE on the driver
    * (`java.time` display names for the requested language tag) and
    * baked into the plan as literals — `element_at(names, month(ts))`
    * stays inside whole-stage codegen, no UDF, no per-row locale work.
    * With no text token in the pattern, any `locale` is a no-op, exactly
    * like the reference's default formats. */
  def timePartition(ts: Column, pathFormat: String,
                    timezone: String = "UTC",
                    locale: String = null): Column = {
    val zts = from_utc_timestamp(ts, timezone)
    val pat = jodaToJavaTime(pathFormat)
    val segs = splitTextTokens(pat)
    if (locale == null || !segs.exists(_.isLeft))
      date_format(zts, pat)
    else {
      val loc = java.util.Locale.forLanguageTag(locale)
      import java.time.format.TextStyle
      def months(st: TextStyle) = array((1 to 12).map(m =>
        lit(java.time.Month.of(m).getDisplayName(st, loc))): _*)
      // Spark dayofweek(): 1 = Sunday … 7 = Saturday
      def days(st: TextStyle) = array(
        (Seq(java.time.DayOfWeek.SUNDAY) ++
          java.time.DayOfWeek.values.take(6)).map(d =>
          lit(d.getDisplayName(st, loc))): _*)
      concat(segs.map {
        case Left("MMMM") => element_at(months(TextStyle.FULL), month(zts))
        case Left("MMM") => element_at(months(TextStyle.SHORT), month(zts))
        case Left("EEEE") => element_at(days(TextStyle.FULL), dayofweek(zts))
        case Left(_) => element_at(days(TextStyle.SHORT), dayofweek(zts))
        case Right(s) => date_format(zts, s)
      }: _*)
    }
  }

  /** Splits a java.time pattern into locale-sensitive TEXT tokens
    * (`Left`) and locale-free passthrough segments (`Right`). `M` runs of
    * ≤2 are NUMERIC month and stay in the passthrough, runs of ≥3 are
    * month names; `E` is a day-NAME token at EVERY run length in both
    * Joda and java.time (`E`/`EE`/`EEE` all render SHORT style), so any
    * `E` run is text. Quoted literals are never scanned. */
  private[ingest] def splitTextTokens(pat: String)
      : Seq[Either[String, String]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Either[String, String]]
    val cur = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < pat.length) {
      val c = pat.charAt(i)
      if (c == '\'') { inQuote = !inQuote; cur += c; i += 1 }
      else if (!inQuote && (c == 'M' || c == 'E')) {
        var j = i
        while (j < pat.length && pat.charAt(j) == c) j += 1
        val run = pat.substring(i, j)
        if (c == 'E' || run.length >= 3) {
          if (cur.nonEmpty) { out += Right(cur.toString); cur.clear() }
          // normalize to the two shapes java.time text styles distinguish:
          // EEEE = FULL; everything else (E/EE/EEE, MMM) = SHORT
          out += Left(if (c == 'E' && run.length < 4) "EEE" else run.take(4))
        } else cur ++= run
        i = j
      } else { cur += c; i += 1 }
    }
    if (cur.nonEmpty) out += Right(cur.toString)
    out.toSeq
  }

  /** The Joda→java.time pattern translation for the token subset that
    * appears in reference configs: YYYY→yyyy; quoted literals, MM, dd, HH,
    * mm, ss, M, d, H are identical in both syntaxes. */
  private[ingest] def jodaToJavaTime(pattern: String): String =
    pattern.replace("YYYY", "yyyy")

  /** K8 SchemaPartitioner affix wrapper (util/SchemaPartitioner.java:47-67):
    * prefixes or suffixes `schema_name=<valueSchema.name>`; `null` when
    * schemaless (behavior: TopicPartitionWriterTest.java:2242-2347). */
  def schemaNameAffix(inner: Column, schemaName: Column,
                      prefix: Boolean = true): Column = {
    val affix =
      concat(lit("schema_name="), coalesce(schemaName.cast("string"), lit("null")))
    if (prefix) concat(affix, lit("/"), inner)
    else concat(inner, lit("/"), affix)
  }

  /** K9 TombstoneSupportedPartitioner
    * (util/TombstoneSupportedPartitioner.java:25-48): records with a null
    * value go to a fixed tombstone partition, everything else delegates. */
  def tombstoneAware(value: Column, inner: Column,
                     tombstonePartition: String = "tombstone"): Column =
    when(value.isNull, lit(tombstonePartition)).otherwise(inner)

  /** K12 timestamp extractors. `Wallclock` = `current_timestamp()`,
    * `Record` = the Kafka record timestamp column, `RecordField` = a field of
    * the value struct with tombstone fallback to the record timestamp
    * (util/TombstoneTimestampExtractor.java:40-45). */
  def recordFieldTimestamp(valueField: Column, recordTs: Column): Column =
    coalesce(valueField, recordTs)

  /** K13 partitioned path assembly:
    * `<topicsDir>/<topic>/<encodedPartition>` with configurable delimiter
    * (TopicPartitionWriter.java:618-620,868-873). */
  def partitionedPath(topicsDir: String, topic: Column, encoded: Column,
                      delim: String = "/"): Column =
    concat_ws(delim, lit(topicsDir), topic, encoded)
}

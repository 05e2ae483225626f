package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.{Compaction, IngestConfig}

/** Committed-view reads over a finished manifest lake: the full lake, a
  * stats-pruned range on the time-ordered column, one partition, and an
  * `asOfEndOffset` cut at a batch boundary. Each read is aggregated to
  * `(count, sum(amount))` and compared with the generator's answer. */
object LakeReads {
  /** One read: a committed-view frame and the (count, sum) it must give. */
  final case class Query(name: String, read: () => DataFrame, rows: DataFrame => DataFrame,
                         expected: (Long, Long))

  /** Reads of a lake holding the committed records of `files` generated
    * files of `perFile` records each. */
  def queries(run: Run, lake: String, cfg: IngestConfig, files: Int, perFile: Int,
              stepMs: Long): Seq[Query] = {
    val spark = run.spark
    val gen = Gen.records(run.seed, 0, files.toLong * perFile, stepMs).filterNot(_.short).toSeq
    def expect(p: Gen.Rec => Boolean) = {
      val hit = gen.filter(p)
      (hit.size.toLong, hit.map(_.amount).sum)
    }
    val r = Gen.mix(run.seed, -1L)
    val span = files.toLong * perFile * stepMs
    val lo = Gen.BaseMs + java.lang.Long.remainderUnsigned(r, span * 9 / 10)
    val hi = lo + span / 20
    val eventType = s"t${java.lang.Long.remainderUnsigned(r >>> 20, Gen.EventTypes.toLong)}"
    // a cut after a whole file (one micro-batch) in the second half
    val cutFile = files / 2 + java.lang.Long.remainderUnsigned(r >>> 40,
      (files - files / 2).toLong).toInt
    val watermark = (cutFile + 1).toLong * perFile / Gen.Partitions - 1
    Seq(
      Query("full_lake", () => Compaction.readCommitted(spark, lake, cfg),
        identity, expect(_ => true)),
      Query("stats_range_event_ms", () => Compaction.readCommitted(spark, lake, cfg,
          rangePredicates = Seq(("event_ms", lo.toDouble, hi.toDouble))),
        _.filter(col("event_ms").between(lo, hi)), expect(x => x.eventMs >= lo && x.eventMs <= hi)),
      Query("partition_predicate", () => Compaction.readCommitted(spark, lake, cfg,
          partitionPredicate = Some(col("encoded_partition") === s"event_type=$eventType")),
        identity, expect(_.eventType == eventType)),
      Query("as_of_end_offset", () => Compaction.readCommitted(spark, lake, cfg,
          asOfEndOffset = Some(watermark)),
        identity, expect(_.offset <= watermark)))
  }

  /** Run each read once as a trace: `readCommitted` (manifest scans,
    * driver side), then the aggregate over the objects it chose. A wrong
    * answer fails the run. */
  def round(run: Run, qs: Seq[Query], sp: Spans): Seq[Map[String, Any]] =
    qs.map { q =>
      val s0 = Clock.nowMs
      val (got, objects) = sp("lake.read", q.name) {
        val df = sp("ingest.Compaction.readCommitted", q.name)(q.read())
        (sp("lake.aggregate", q.name)(Sink.countSum(q.rows(df))), df.inputFiles.length)
      }
      val ms = Clock.nowMs - s0
      run.check(s"lake.${q.name}.answer_matches_generator", got == q.expected,
        s"got $got, expected ${q.expected}")
      Map("name" -> q.name, "ms" -> ms, "rows" -> got._1, "objects_read" -> objects)
    }
}

package graft

import graft.functions.CorpusMinHash
import graft.ingest.{Rotation, SchemaCompat}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property tests (FIXTURES.md: partition-encoding round-trips + engine
  * invariants). Pure-JVM ScalaCheck at full volume; Spark expression
  * equivalence is batch-checked in SparkPropertySpec. */
object EngineProperties extends Properties("graft") {

  property("scheduled rotation fires interval-aligned from local day start," +
    " strictly in the future, within one interval") = {
    val tzs = Seq("UTC", "America/Los_Angeles", "Asia/Tokyo",
      "Australia/Adelaide").map(java.time.ZoneId.of)
    val gen = for {
      now <- Gen.choose(946684800000L, 1893456000000L) // 2000..2030
      interval <- Gen.oneOf(60000L, 600000L, 3600000L, 21600000L, 86400000L)
      tz <- Gen.oneOf(tzs)
    } yield (now, interval, tz)
    forAll(gen) { case (now, interval, tz) =>
      val next = Rotation.nextScheduledRotation(now, interval, tz)
      val dayStart = java.time.Instant.ofEpochMilli(now).atZone(tz)
        .toLocalDate.atStartOfDay(tz).toInstant.toEpochMilli
      next > now && (next - dayStart) % interval == 0 &&
        next - now <= interval
    }
  }

  property("jaro-winkler is symmetric, bounded, and 1 only on equality") = {
    val sGen = Gen.listOf(Gen.oneOf('a', 'b', 'c', 'd', ' ')).map(_.mkString)
    forAll(sGen, sGen) { (a, b) =>
      val jw = graft.functions.JaroWinkler.similarity(a, b)
      val sym = jw == graft.functions.JaroWinkler.similarity(b, a)
      val bounded = jw >= 0.0 && jw <= 1.0
      val ident = if (a == b && a.nonEmpty)
        jw == 1.0
      else if (a.nonEmpty && b.nonEmpty && a != b) jw < 1.0
      else jw == 0.0 // either side empty scores 0 (rapidfuzz convention)
      sym && bounded && ident
    }
  }

  property("schema-compat decisions are total and mode-consistent") = {
    import SchemaCompat._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("a", IntegerType)))
    val gen = for { v1 <- Gen.choose(1, 50); v2 <- Gen.choose(1, 50) }
      yield (VersionedSchema("rec", Some(v1), schema),
        VersionedSchema("rec", Some(v2), schema))
    forAll(gen) { case (cur, inc) =>
      val b = decide(Backward, cur, inc)
      val f = decide(Forward, cur, inc)
      val consistent =
        if (cur.version == inc.version) b == Identical && f == Identical
        else if (inc.version.get > cur.version.get)
          b == Rotate(DifferentVersion) && f == Project(cur)
        else b == Project(cur) && f == Rotate(DifferentVersion)
      consistent && decide(Full, cur, inc) == b
    }
  }

  property("estimated corpus Jaccard is bounded, symmetric, reflexive") = {
    val sigGen = Gen.listOfN(16, Gen.choose(0L, 1000L))
    forAll(sigGen, sigGen) { (a, b) =>
      val ab = CorpusMinHash.estimatedJaccard(a, b)
      ab >= 0.0 && ab <= 1.0 &&
        ab == CorpusMinHash.estimatedJaccard(b, a) &&
        CorpusMinHash.estimatedJaccard(a, a) == 1.0
    }
  }
}

/** Spark-evaluated equivalence: the native WordShingles expression agrees
  * with a pure-Scala reference on ScalaCheck-generated inputs (one Spark
  * job for the whole generated batch). */
class SparkPropertySpec extends SparkSuite {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def referenceShingles(text: String, n: Int): Seq[String] = {
    val tokens = text.toLowerCase.split(" ", -1).toSeq
    if (tokens.length <= n) Seq(tokens.mkString(" "))
    else tokens.sliding(n).map(_.mkString(" ")).toSeq.distinct
  }

  test("upsertVersioned equals the per-key max-(version, side, payload) " +
    "reference model on generated merge inputs") {
    val rnd = new scala.util.Random(7)
    def rows(n: Int): Seq[(Long, String, Long)] =
      (0 until n).map(_ => (rnd.nextInt(12).toLong,
        s"p${rnd.nextInt(4)}", rnd.nextInt(5).toLong))
    for (_ <- 1 to 5) {
      val base = rows(30)
      // base itself may carry key duplicates in a raw lake; model resolves
      // them the same way the aggregate does (side 0)
      val upd = rows(20)
      val got = graft.ingest.Compaction.upsertVersioned(
        base.toDF("k", "v", "version"), upd.toDF("k", "v", "version"),
        Seq("k"), "version")
        .select("k", "v", "version").as[(Long, String, Long)]
        .collect().sortBy(_._1).toSeq
      val model = (base.map(r => (r, 0)) ++ upd.map(r => (r, 1)))
        .groupBy(_._1._1)
        .map { case (k, rs) =>
          // max by (version, side, payload-struct (v, version)) — the
          // aggregate's ordering struct is (version, __upd, (v, version))
          val best = rs.maxBy { case ((_, v, ver), side) =>
            (ver, side, v, ver)
          }
          (k, best._1._2, best._1._3)
        }
        .toSeq.sortBy(_._1)
      assert(got == model, s"merge mismatch:\n got=$got\n mod=$model")
    }
  }

  test("upsertVersionedCdc equals the per-key max-(version, delete, side, " +
    "payload)-then-retract reference model on generated merge inputs") {
    val rnd = new scala.util.Random(11)
    def baseRows(n: Int): Seq[(Long, String, Long)] =
      (0 until n).map(_ => (rnd.nextInt(12).toLong,
        s"p${rnd.nextInt(4)}", rnd.nextInt(5).toLong))
    def updRows(n: Int): Seq[(Long, String, Long, Boolean)] =
      (0 until n).map { _ =>
        val del = rnd.nextInt(3) == 0
        (rnd.nextInt(12).toLong,
          if (del) null else s"p${rnd.nextInt(4)}",
          rnd.nextInt(5).toLong, del)
      }
    for (_ <- 1 to 5) {
      val base = baseRows(30)
      val upd = updRows(20)
      val got = graft.ingest.Compaction.upsertVersionedCdc(
        base.toDF("k", "v", "version"),
        upd.toDF("k", "v", "version", "is_delete"),
        Seq("k"), "version", "is_delete")
        .select("k", "v", "version").as[(Long, String, Long)]
        .collect().sortBy(r => (r._1, r._2, r._3)).toSeq
      // model: winner by (version, del, side, (del, v, version)); winner
      // delete ⇒ key retracted. The payload tiebreak struct leads with
      // __del, mirroring the aggregate's valueStruct field order.
      val model = (base.map(r => (r._1, r._2, r._3, false, 0)) ++
        upd.map(r => (r._1, r._2, r._3, r._4, 1)))
        .groupBy(_._1)
        .flatMap { case (k, rs) =>
          val best = rs.maxBy { case (_, v, ver, del, side) =>
            (ver, del, side, del, Option(v).getOrElse(""), ver)
          }
          if (best._4) None else Some((k, best._2, best._3))
        }
        .toSeq.sortBy(r => (r._1, r._2, r._3))
      assert(got == model, s"cdc merge mismatch:\n got=$got\n mod=$model")
    }
  }

  test("winnowing guarantee holds on generated doc pairs: any shared " +
    ">= 6-token run yields a common fingerprint") {
    val rnd = new scala.util.Random(13)
    def words(n: Int, tag: String): Seq[String] =
      (0 until n).map(_ => s"$tag${rnd.nextInt(50)}")
    val cases = (0 until 40).map { i =>
      val shared = words(6 + rnd.nextInt(6), "s") // 6..11 shared tokens
      val a = (words(rnd.nextInt(8), "a") ++ shared ++
        words(rnd.nextInt(8), "x")).mkString(" ")
      val b = (words(rnd.nextInt(8), "b") ++ shared ++
        words(rnd.nextInt(8), "y")).mkString(" ")
      (i.toLong * 2, a, i.toLong * 2 + 1, b)
    }
    val docs = cases.flatMap { case (ia, a, ib, b) =>
      Seq((ia, a), (ib, b)) }.toDF("doc_id", "text")
    val sets = graft.analytics.Dedup.winnowFingerprintSets(
      docs, col("doc_id"), col("text"), n = 3, window = 4)
      .as[(Long, Seq[Long])].collect().toMap
    cases.foreach { case (ia, a, ib, b) =>
      assert(sets(ia).toSet.intersect(sets(ib).toSet).nonEmpty,
        s"no shared fingerprint for pair $ia/$ib:\n a=$a\n b=$b")
    }
  }

  test("ceilMulExact equals the exact-rational ⌈n·t⌉ at adversarial " +
    "(n, t) pairs — including the float-overshoot shapes the old epsilon " +
    "form papered over") {
    // every t whose double product n·t is known to round the wrong way
    // somewhere, plus boundary thresholds; n sweeps 0..3000 and a
    // large-n band where double ulp > 1
    val ts = Seq(0.07, 0.1, 0.2, 0.3, 1.0 / 2.0, 0.7, 0.8, 0.33, 0.125,
      0.999999999, 0.000000001, 1.0, 0.999, 0.001)
    val ns = (0L to 3000L) ++ (0 to 50).map(i => 1000000000L + i * 77L)
    ts.foreach { t =>
      val (num, den) = graft.analytics.Dedup.thresholdRational(t)
      assert(BigDecimal(num) / BigDecimal(den) == BigDecimal(t.toString),
        s"rational mismatch for t=$t: $num/$den")
      val got = ns.toDF("n")
        .select(col("n"),
          graft.analytics.Dedup.ceilMulExact(col("n"), num, den).as("c"))
        .as[(Long, Long)].collect().toMap
      ns.foreach { n =>
        val want = (BigDecimal(n) * BigDecimal(t.toString))
          .setScale(0, BigDecimal.RoundingMode.CEILING).toLongExact
        assert(got(n) == want, s"ceil($n * $t): got ${got(n)}, want $want")
      }
    }
  }

  test("native WordShingles equals the pure reference on generated inputs") {
    val wordGen = Gen.listOf(Gen.oneOf(
      Gen.alphaLowerStr.map(_.take(6)), Gen.const(""), Gen.const("the")))
      .map(_.mkString(" "))
    val inputs = (1 to 200).flatMap(_ => wordGen.sample).distinct
    val df = inputs.toDF("text")
      .select(col("text"),
        graft.functions.HashExpressions.wordShingles(lower(col("text")), 3)
          .as("sh"))
    df.collect().foreach { row =>
      val text = row.getString(0)
      val native = row.getSeq[String](1)
      assert(native == referenceShingles(text, 3),
        s"mismatch for input '$text'")
    }
  }

  test("native VectorMoments equals the composed nested-transform form " +
    "(same means, same upper-triangle cross products, same order) on " +
    "generated vectors") {
    val vecs = (1 to 40).map(r =>
      Tuple1((0 until 5 + r % 4).map(i =>
        math.sin(r * 31 + i).abs * (i + 1)).toSeq))
    val df = vecs.toDF("v")
    val idx = sequence(lit(0), size(col("v")) - 1)
    val means = transform(idx, i =>
      struct(i.as("i"), lit(-1).as("j"),
        element_at(col("v"), i + 1).as("x")))
    val crosses = flatten(transform(idx, i =>
      transform(sequence(i, size(col("v")) - 1), j =>
        struct(i.as("i"), j.as("j"),
          (element_at(col("v"), i + 1) * element_at(col("v"), j + 1))
            .as("x")))))
    val rows = df.select(
      graft.functions.HashExpressions.vectorMoments(col("v")).as("native"),
      concat(means, crosses).as("composed")).collect()
    rows.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) ==
        r.getSeq[org.apache.spark.sql.Row](1))
    }
  }

  test("native WordNgrams equals the composed transform/slice form on " +
    "generated inputs (ordered, duplicates preserved, short-doc and " +
    "multi-space cases)") {
    val wordGen = Gen.listOf(Gen.oneOf(
      Gen.alphaLowerStr.map(_.take(6)), Gen.const(""), Gen.const("the")))
      .map(_.mkString(" "))
    val inputs = ((1 to 200).flatMap(_ => wordGen.sample) ++
      Seq("", "a", "a b", "a b c", "a  b", " lead", "trail ")).distinct
    val toks = split(lower(col("text")), " ")
    val df = inputs.toDF("text")
      .select(col("text"),
        graft.functions.HashExpressions.wordNgrams(lower(col("text")), 2)
          .as("native"),
        transform(
          sequence(lit(1), greatest(size(toks) - 1, lit(1))),
          i => concat_ws(" ", slice(toks, i, lit(2)))).as("composed"))
    df.collect().foreach { row =>
      assert(row.getSeq[String](1) == row.getSeq[String](2),
        s"mismatch for input '${row.getString(0)}'")
    }
  }

  test("assignWriterSizeFiles equals an imperative simulation of the " +
    "reference writer with rotate.file.on.partition.change=false " +
    "(TopicPartitionWriter: per-ep open files, writer-global recordCount, " +
    "commitFiles closes all) on generated streams") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 6) {
      val flushSize = 1 + rnd.nextInt(5)
      val nWriters = 1 + rnd.nextInt(3)
      val stream = (0 until 40).map { i =>
        (rnd.nextInt(nWriters), i.toLong, s"ep${rnd.nextInt(3)}")
      }
      // imperative reference model: per writer, walk offsets in order;
      // each record opens-or-appends its ep's file (startOffsets seeded
      // on open), recordCount is WRITER-global, and reaching flushSize
      // commits EVERY open file at once
      val model = scala.collection.mutable.Map
        .empty[(Int, String, Long), Long] // (writer, ep, startOffset) -> n
      stream.groupBy(_._1).foreach { case (w, rs) =>
        var count = 0
        val open = scala.collection.mutable.Map.empty[String, Long]
        rs.sortBy(_._2).foreach { case (_, off, ep) =>
          val start = open.getOrElseUpdate(ep, off)
          model((w, ep, start)) = model.getOrElse((w, ep, start), 0L) + 1
          count += 1
          if (count >= flushSize) { count = 0; open.clear() }
        }
      }
      val got = Rotation.assignWriterSizeFiles(
        stream.toDF("writer", "offset", "ep"),
        col("writer"), col("ep"), col("offset"), flushSize)
        .groupBy(col("writer"), col("ep"),
          col(Rotation.StartOffsetCol).as("start"))
        .count()
        .as[(Int, String, Long, Long)].collect()
        .map { case (w, ep, s, n) => (w, ep, s) -> n }.toMap
      assert(got == model.toMap,
        s"trial $trial (flush=$flushSize): got=$got\n model=$model")
    }
  }

  test("triangles equals the brute-force per-node count on generated " +
    "random graphs (the compact-forward orientation loses nothing)") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 5) {
      val n = 8 + rnd.nextInt(8)
      val edges = (0 until n * 2).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      if (edges.nonEmpty) {
        // reference model: symmetrized adjacency, count adjacent pairs
        // of neighbors per node, each triangle seen once per corner
        val adj = (edges ++ edges.map(_.swap)).distinct
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
        val model = adj.map { case (v, ns) =>
          val pairs = ns.toSeq.combinations(2).count {
            case Seq(a, b) => adj.getOrElse(a, Set.empty).contains(b)
            case _ => false
          }
          v -> pairs.toLong
        }
        val got = graft.analytics.Graph.triangles(
          edges.toDF("src", "dst"), col("src"), col("dst"))
          .as[(Long, Long, Long, Long)].collect()
          .map(r => r._1 -> r._2).toMap
        assert(got == model,
          s"trial $trial: got=$got\n model=$model\n edges=$edges")
        graft.analytics.Caches.clear()
      }
    }
  }

  test("neymanAllocation apportions the budget exactly and " +
    "monotonically favors the higher-N_h*S_h stratum on generated data") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 5) {
      val nStrata = 2 + rnd.nextInt(4)
      val rows = (0 until nStrata).flatMap { s =>
        val cnt = 2 + rnd.nextInt(8)
        (0 until cnt).map(_ => (s"s$s", rnd.nextInt(1000).toLong))
      }
      val budget = 10L + rnd.nextInt(90)
      val got = graft.analytics.Mix.neymanAllocation(
        rows.toDF("s", "x"), col("s"), col("x"), budget)
        .as[(String, Long, Long, Long)].collect()
      assert(got.map(_._4).sum == budget,
        s"trial $trial: sum ${got.map(_._4).sum} != $budget: ${got.toSeq}")
      assert(got.forall(_._4 >= 0), got.toSeq)
      // weights w = n*sd_kilo: base shares must be weight-monotone
      // (largest remainder can add at most 1)
      val byW = got.sortBy(r => r._2 * r._3)
      byW.sliding(2).foreach {
        case Array(lo, hi) =>
          assert(lo._4 <= hi._4 + 1,
            s"trial $trial not weight-monotone: $lo vs $hi")
        case _ =>
      }
    }
  }
}

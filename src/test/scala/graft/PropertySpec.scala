package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.functions.Fns
import org.scalacheck.rng.Seed
import graft.operators.EventFlattener
import graft.plans.WordNGramsUtil
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Property tests for the pure kernels backing the custom expressions —
  * the places where a hand-rolled loop replaced a composed form and
  * must agree with the obvious specification on arbitrary input. */
class PropertySpec extends SparkSpec {

  /** Deterministic sampling loop (scalatestplus bridge isn't on the
    * classpath; raw scalacheck Gen + fixed seeds is equivalent here). */
  private def forAll[A, B](ga: Gen[A], gb: Gen[B], trials: Int = 200)(f: (A, B) => Unit): Unit =
    (0 until trials).foreach { i =>
      val seed = Seed(i.toLong)
      (ga.apply(Gen.Parameters.default, seed),
        gb.apply(Gen.Parameters.default, seed.next)) match {
        case (Some(a), Some(b)) => f(a, b)
        case _ => ()
      }
    }

  private def forAll1[A](ga: Gen[A], trials: Int = 200)(f: A => Unit): Unit =
    (0 until trials).foreach { i =>
      ga.apply(Gen.Parameters.default, Seed(1000L + i)).foreach(f)
    }

  private val token = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val tokens = Gen.listOf(token)

  test("WordNGramsUtil.compute == naive sliding window for all inputs") {
    forAll(tokens, Gen.choose(1, 6)) { (toks: List[String], n: Int) =>
      val arr = new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any])
      val got = WordNGramsUtil.compute(arr, n)
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      val expected =
        if (toks.length < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      assert(got == expected)
    }
  }

  test("CharNGramsUtil.compute == naive codepoint sliding window (incl. multibyte)") {
    val str = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '),
      Gen.const('é'), Gen.const('中'))).map(_.mkString)
    forAll(str, Gen.choose(1, 5)) { (s: String, n: Int) =>
      val got = graft.plans.CharNGramsUtil
        .compute(UTF8String.fromString(s), n)
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      // reference: slide over CODEPOINTS (these chars are all BMP, so
      // Scala's char-based sliding matches codepoint alignment)
      val expected =
        if (s.length < n) Seq.empty else s.sliding(n).toSeq
      assert(got == expected, s"s=$s n=$n")
    }
  }

  test("WhitespaceTokensUtil.compute == java-regex \\S+ extraction (incl. multibyte, all six ws chars)") {
    val str = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '),
      Gen.const('\t'), Gen.const('\n'), Gen.const('\u000b'),
      Gen.const('\f'), Gen.const('\r'),
      Gen.const('\u00a0'), // Unicode NBSP: a TOKEN char under ASCII \S
      Gen.const('é'), Gen.const('中'))).map(_.mkString)
    forAll1(str) { (s: String) =>
      val got = graft.plans.WhitespaceTokensUtil
        .compute(UTF8String.fromString(s))
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      val expected = "\\S+".r.findAllIn(s).toSeq
      assert(got == expected, s"s=${s.map(_.toInt)}")
    }
  }

  test("CharNGramsUtil.compute windows on astral + malformed bytes (clamped at the tail)") {
    // Pins the boundary walk on the inputs the String-based test above
    // can't reach: 4-byte astral sequences (one codepoint here, TWO
    // Java chars) and malformed UTF-8 from arbitrary byte strings.
    // Writing this test SURFACED a Spark bug the rewrite deliberately
    // does not reproduce: on a truncated multibyte sequence at the
    // buffer's END, UTF8String.substring's until-walk overshoots
    // numBytes and its copyMemory reads past the buffer, appending
    // adjacent heap bytes to the final windows. The specification here
    // is therefore an independent walker (same first-byte table, end
    // clamped to the buffer); windows whose walk stays in bounds are
    // ALSO cross-checked byte-identical against substring itself.
    val rawBytes = Gen.listOf(Gen.oneOf(
      Gen.choose(0x20, 0x7e),          // ASCII
      Gen.const(0xf0), Gen.const(0x9f), Gen.const(0x92), // astral seq bytes
      Gen.const(0xe4), Gen.const(0xb8), Gen.const(0xad), // 3-byte seq bytes
      Gen.choose(0x80, 0xff)))         // arbitrary continuation/lead
      .map(_.map(_.toByte).toArray)
    forAll(rawBytes, Gen.choose(1, 5)) { (bytes: Array[Byte], n: Int) =>
      val s = UTF8String.fromBytes(bytes)
      val got = graft.plans.CharNGramsUtil.compute(s, n)
        .toArray[UTF8String](org.apache.spark.sql.types.StringType).toSeq
      // independent reference: codepoint starts + one-past-walk ends
      val starts = Iterator.iterate(0) { o =>
        o + math.max(1, UTF8String.numBytesForFirstByte(bytes(o)))
      }.takeWhile(_ < bytes.length).toVector :+ bytes.length
      val walkEnds = starts.init.map(o =>
        o + math.max(1, UTF8String.numBytesForFirstByte(bytes(o)))) :+ bytes.length
      val nc = starts.length - 1
      assert(nc == s.numChars(), "walker disagrees with numChars")
      val expected = (0 until nc - (n - 1)).map { i =>
        bytes.slice(starts(i), math.min(starts(i + n), bytes.length)).toSeq
      }
      assert(got.map(_.getBytes.toSeq) == expected,
        s"bytes=${bytes.map(b => f"${b & 0xff}%02x").mkString(" ")} n=$n")
      // where substring's walk cannot overrun, the rewrite matches it
      (0 until nc - (n - 1)).foreach { i =>
        if (walkEnds(math.min(i + n, nc) - 1) <= bytes.length) {
          assert(got(i) == s.substring(i, i + n),
            s"in-bounds window $i diverged from UTF8String.substring")
        }
      }
    }
  }

  test("WhitespaceTokensUtil.compute == \\S+ under ISO-8859-1 on arbitrary bytes") {
    // Independent byte-level reference: ISO-8859-1 maps each byte to
    // one char and java.util.regex's ASCII \S treats 0x80-0xFF as
    // token chars — exactly the native scan's six-byte whitespace
    // class. Pins behavior on malformed UTF-8 too (tokens must wrap
    // the same byte ranges regardless of sequence validity).
    val rawBytes = Gen.listOf(Gen.oneOf(
      Gen.choose(0x20, 0x7e), Gen.const(0x09), Gen.const(0x0a),
      Gen.const(0x0b), Gen.const(0x0c), Gen.const(0x0d),
      Gen.choose(0x80, 0xff)))
      .map(_.map(_.toByte).toArray)
    forAll1(rawBytes) { (bytes: Array[Byte]) =>
      val got = graft.plans.WhitespaceTokensUtil
        .compute(UTF8String.fromBytes(bytes))
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.getBytes.toSeq).toSeq
      val iso = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      val expected = "\\S+".r.findAllIn(iso).toSeq
        .map(_.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1).toSeq)
      assert(got == expected,
        s"bytes=${bytes.map(b => f"${b & 0xff}%02x").mkString(" ")}")
    }
  }

  test("VectorOpsUtil.dot/cosine match the fold specification") {
    val vec = Gen.listOfN(8, Gen.choose(-10.0, 10.0))
    forAll(vec, vec) { (a: List[Double], b: List[Double]) =>
      val aa = new GenericArrayData(a.toArray)
      val bb = new GenericArrayData(b.toArray)
      val dotSpec = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      assert(graft.plans.VectorOpsUtil.dot(aa, bb) == dotSpec)
      val den = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      val cosSpec = if (den == 0.0) 0.0 else dotSpec / den
      val got = graft.plans.VectorOpsUtil.cosine(aa, bb)
      assert(math.abs(got - cosSpec) < 1e-12)
    }
  }

  test("snakeCase is idempotent and produces lower snake shape") {
    forAll1(Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('-', '.', ' ', '_')))
        .map(_.mkString)) { s: String =>
      val once = EventFlattener.snakeCase(s)
      assert(EventFlattener.snakeCase(once) == once) // idempotent
      assert(once.matches("[a-z0-9_]*"))
      assert(!once.startsWith("_") || once.isEmpty)
    }
  }

  test("minHash component equals min over per-shingle window (spark vs spec)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h i j k l")).toDF("doc_id", "text")
    val shingled = docs.select(
      graft.functions.Fns.wordNGrams(graft.functions.Fns.tokens(col("text")), 3).as("shs"))
    val shs = shingled.collect()(0).getAs[scala.collection.Seq[String]]("shs")
    val sparkMins = shingled.select(
      (0 until 8).map(j => graft.functions.Fns.minHash(col("shs"), j).as(s"h$j")): _*)
      .collect()(0)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    (0 until 8).foreach { j =>
      val spec = shs.map { s =>
        val m = if (j < 4) md5hex(s) else md5hex(s + "#")
        m.substring((j % 4) * 8, (j % 4) * 8 + 8)
      }.min
      assert(sparkMins.getString(j) == spec, s"component $j")
    }
  }

  test("Splitter.hexThreshold is monotone and endpoint-exact") {
    import graft.operators.Splitter
    assert(Splitter.hexThreshold(0.0) == "00000000")
    assert(Splitter.hexThreshold(1.0) == "ffffffff")
    assert(Splitter.hexThreshold(0.5) == "80000000")
    forAll(Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)) { (a: Double, b: Double) =>
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      assert(Splitter.hexThreshold(lo) <= Splitter.hexThreshold(hi))
    }
  }

  test("Collapsing.collapse == per-key reference fold on random signed streams") {
    import spark.implicits._
    import graft.operators.Collapsing
    val rnd = new scala.util.Random(7)
    // 80 trials × 3 keys, random write streams incl. version ties,
    // cancel-only garbage, and net-zero deletes; seq is the unique
    // version tie-break and doubles as the payload
    val rows = for {
      trial <- 0 until 80
      k <- 1 to 3
      n = rnd.nextInt(7)
      i <- 0 until n
    } yield (trial.toLong, k.toLong, rnd.nextInt(4) + 1,
      trial * 1000L + k * 100L + i,
      if (rnd.nextBoolean()) 1 else -1)
    val df = rows.toDF("trial", "k", "ver", "seq", "sign")
    val got = Collapsing.collapse(df, Seq("trial", "k"),
        Seq(col("ver"), col("seq")), col("sign"))
      .select("trial", "k", "seq")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expected = rows.groupBy(r => (r._1, r._2)).flatMap { case (key, ws) =>
      val net = ws.map(_._5).sum
      if (net > 0)
        Some(key -> ws.filter(_._5 == 1).maxBy(w => (w._3, w._4))._4)
      else None
    }
    assert(got === expected)
  }

  test("Collapsing.collapseVersioned == reference fold incl. dangling cancels and double-writes") {
    import spark.implicits._
    import graft.operators.Collapsing
    val rnd = new scala.util.Random(13)
    // random version-stamped streams: matched pairs, dangling cancels,
    // double-written versions (two +1 one -1), cancel-only garbage
    val rows = for {
      trial <- 0 until 80
      k <- 1 to 3
      n = rnd.nextInt(8)
      i <- 0 until n
    } yield (trial.toLong, k.toLong, (rnd.nextInt(4) + 1).toLong,
      trial * 1000L + k * 100L + i,
      if (rnd.nextBoolean()) 1 else -1)
    val df = rows.toDF("trial", "k", "ver", "seq", "sign")
    val arr = Collapsing.collapseVersioned(df, Seq("trial", "k"),
        col("ver"), col("sign"), tieBreak = Seq(col("seq")))
      .select("trial", "k", "seq")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    assert(arr.length === arr.map(_._1).distinct.length,
      "collapse must emit at most one current row per key")
    val got = arr.toMap
    val expected = rows.groupBy(r => (r._1, r._2)).flatMap { case (key, ws) =>
      // a version is live iff its net sign is positive; the current
      // row is the latest live version's latest +1 copy
      val live = ws.groupBy(_._3).filter(_._2.map(_._5).sum > 0).keys
      if (live.isEmpty) None
      else {
        val bv = live.max
        Some(key -> ws.filter(w => w._3 == bv && w._5 == 1).map(_._4).max)
      }
    }
    assert(got === expected)
  }

  test("Series.lttb == reference bucket-average fold on random series") {
    import spark.implicits._
    import graft.operators.Series
    val rnd = new scala.util.Random(17)
    // random series incl. x ties (id tie-break) and tiny n < buckets
    val rows = for {
      trial <- 0 until 40
      n = rnd.nextInt(12) + 1
      i <- 0 until n
    } yield (trial.toLong, i.toLong + 1,
      rnd.nextInt(20).toLong, rnd.nextInt(200).toLong - 100)
    val B = 4
    val df = rows.toDF("k", "id", "x", "y")
    val got = Series.lttb(df, "k", col("x"), col("y"), col("id"), buckets = B)
      .select("k", "bucket", "pick_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // reference: same spec in plain Scala — JVM doubles, same op tree
    val expected = rows.groupBy(_._1).flatMap { case (k, pts) =>
      val sorted = pts.sortBy(p => (p._3, p._2)) // (x, id)
      val n = sorted.size
      val withRn = sorted.zipWithIndex.map { case (p, i) => (p, i + 1) }
      val bucketOf = (rn: Int) => ((rn - 1).toLong * B) / n
      val lastb = ((n - 1).toLong * B) / n
      val sums = withRn.groupBy { case (_, rn) => bucketOf(rn) }
        .map { case (b, ps) =>
          b -> ((ps.map(_._1._3).sum, ps.map(_._1._4).sum, ps.size.toLong)) }
      withRn.groupBy { case (_, rn) => bucketOf(rn) }.map { case (b, ps) =>
        val pick = ps.maxBy { case ((_, id, x, y), rn) =>
          val score =
            if (b == 0) -rn.toDouble
            else if (b == lastb) rn.toDouble
            else (sums.get(b - 1), sums.get(b + 1)) match {
              case (Some((sxp, syp, cp)), Some((sxn, syn, cn))) =>
                val a1 = sxp.toDouble * cn.toDouble - sxn.toDouble * cp.toDouble
                val b1 = y.toDouble * cp.toDouble - syp.toDouble
                val a2 = sxp.toDouble - x.toDouble * cp.toDouble
                val b2 = syn.toDouble * cp.toDouble - syp.toDouble * cn.toDouble
                math.abs(a1 * b1 - a2 * b2)
              case _ => -1.0
            }
          (score, -id) // score desc, id asc
        }
        (k, b) -> pick._1._2
      }
    }
    assert(got === expected)
  }

  test("Series.deltaSum == per-series sequential fold on random series") {
    import spark.implicits._
    import graft.operators.Series
    val rnd = new scala.util.Random(11)
    // 60 series, random lengths incl. empty-ish and single-point,
    // values spanning sign changes and exact repeats (zero deltas),
    // shuffled input order (the operator must sort, not trust arrival)
    val rows = rnd.shuffle(for {
      series <- 0 until 60
      n = rnd.nextInt(8) + 1
      i <- 0 until n
    } yield (series.toLong, rnd.nextInt(5).toLong, // tied times happen
      series * 100L + i, // unique tie-break
      math.round(rnd.nextGaussian() * 500) / 100.0))
    val df = rows.toDF("k", "t", "id", "v")
    val got = Series.deltaSum(df, "k", "t", "id", col("v"))
      .select(col("k"), col("n_points"), col("delta_sum").cast("double"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val expected = rows.groupBy(_._1).map { case (k, rs) =>
      val vs = rs.sortBy(r => (r._2, r._3))
        .map(r => BigDecimal(r._4).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      val ds = vs.zip(vs.drop(1)).map { case (a, b) => b - a }.filter(_ > 0)
      k -> ((rs.size.toLong, ds.sum.toDouble))
    }
    assert(got === expected)
  }

  test("Ttl.rollupExpired conserves rows and sums on random ages") {
    import spark.implicits._
    import graft.operators.Ttl
    val rnd = new scala.util.Random(13)
    val day = 86400000000000L
    val asOf = 400L * day
    val rows = (0 until 400).map { i =>
      // ages spread across the boundary, incl. exact multiples of a day
      val ts = asOf - (rnd.nextInt(30) * day + rnd.nextInt(3) *
        (day / 2)) - (if (rnd.nextBoolean()) 0L else rnd.nextInt(1000).toLong)
      ("t" + rnd.nextInt(3), i.toLong, ts,
        math.round(rnd.nextGaussian() * 500) / 100.0)
    }
    val df = rows.toDF("event_type", "event_id", "ts", "value")
    val out = Ttl.rollupExpired(df.withColumn("as_of", lit(asOf)),
        col("ts"), col("as_of"), days = 7,
        keys = Seq("event_type"), idCol = "event_id", value = col("value"))
      .collect()
    // conservation: every input row is accounted for exactly once
    assert(out.map(_.getAs[Long]("n_rows")).sum === 400L)
    // raw rows keep their ids; rolled rows are the aged remainder
    val rawIds = out.filter(_.getAs[Long]("is_rolled") == 0L)
      .map(_.getAs[Long]("event_id")).toSet
    val expectedRaw = rows.filter { r =>
      (asOf - r._3) / day < 7 // ages are < 30 days: double-exact here
    }.map(_._2).toSet
    assert(rawIds === expectedRaw)
    // value conservation through the decimal cast (exact: inputs are
    // 2-dp already, so the cast is identity and sums commute)
    val gotSum = BigDecimal(out.map(_.getAs[Double]("sum_value")).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expSum = BigDecimal(rows.map(_._4).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert((gotSum - expSum).abs <= BigDecimal(0.000001))
  }

  test("Funnel.sequenceCount2 == the FSM on random event streams") {
    import spark.implicits._
    import graft.operators.Funnel
    val rnd = new scala.util.Random(13)
    // ts collides on purpose (nextInt(6)) — the tie-break must keep
    // Spark's window order and the reference scan order identical
    val rows = for {
      trial <- 0 until 80
      i <- 0 until rnd.nextInt(12)
    } yield (trial.toLong, rnd.nextInt(6).toLong, trial * 100L + i,
      Seq("p", "e", "x")(rnd.nextInt(3)))
    val df = rows.toDF("trial", "ts", "seq", "et")
    val got = Funnel.sequenceCount2(df, "trial", "ts", "seq",
        col("et") === "p", col("et") === "e")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = rows.groupBy(_._1).flatMap { case (t, evs) =>
      val restricted = evs.filter(e => e._4 == "p" || e._4 == "e")
        .sortBy(e => (e._2, e._3))
      if (restricted.isEmpty) None
      else {
        var armed = false; var cnt = 0L
        restricted.foreach { e =>
          if (e._4 == "p") armed = true
          else if (armed) { cnt += 1; armed = false }
        }
        Some(t -> cnt)
      }
    }
    assert(got === expected)
  }

  test("flatten survives arbitrary nested JSON bodies: no loss, snake_case columns") {
    import spark.implicits._
    val key = Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString.take(8))
    val scalarJson: Gen[String] = Gen.oneOf(
      Gen.choose(-1000, 1000).map(_.toString),
      Gen.choose(-10.0, 10.0).map(_.toString),
      Gen.oneOf("true", "false", "null"),
      Gen.alphaNumStr.map(s => "\"" + s.take(10) + "\""))
    // each object's keys are distinct: the one shape `spark.read.json`
    // and `from_json` read alike
    def objJson(depth: Int): Gen[String] =
      Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, key)).flatMap { keys =>
        keys.distinct.foldLeft(Gen.const(List.empty[String])) { (pairs, k) =>
          val v = if (depth <= 0) scalarJson
            else Gen.frequency(
              4 -> scalarJson,
              1 -> objJson(depth - 1),
              1 -> Gen.listOfN(2, scalarJson).map(_.mkString("[", ",", "]")))
          for (ps <- pairs; vv <- v) yield ps :+ ("\"" + k + "\":" + vv)
        }.map(_.mkString("{", ",", "}"))
      }
    forAll1(Gen.listOfN(12, objJson(2)), trials = 5) { (bodies: List[String]) =>
      val df = bodies.zipWithIndex
        .map { case (b, i) => (i.toLong, b) }.toDF("event_id", "props")
      assert(graft.operators.EventFlattener.inferStructure(df, "props") ===
        spark.read.json(bodies.toDS()).schema)
      val flat = graft.operators.EventFlattener.flatten(df, "props",
        keep = Seq("event_id"),
        opts = graft.operators.EventFlattener.Options(sampleFraction = 1.0))
      assert(flat.count() === bodies.length.toLong) // no row lost
      // every derived column is lower snake_case, no collisions
      val derived = flat.columns.filterNot(_ == "event_id")
      derived.foreach { c =>
        assert(c.matches("[a-z0-9_]+"), s"non-snake column: $c")
      }
      assert(derived.distinct.length === derived.length)
    }
  }

  test("non-overlapping chunks reassemble to exactly the token stream") {
    import spark.implicits._
    forAll1(tokens.suchThat(_.nonEmpty), trials = 20) { (toks: List[String]) =>
      val lower = toks.map(_.toLowerCase)
      val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val chunks = graft.operators.Chunker
        .chunkTokens(df, "doc_id", "text", size = 7, stride = 7)
        .orderBy("chunk_id")
        .select("chunk_tokens").as[Seq[String]].collect()
      assert(chunks.flatten.toList === lower)
      assert(chunks.init.forall(_.size == 7)) // only the tail is short
    }
  }

  test("in-basket pair generator == naive pair enumeration on random baskets") {
    // b88/b102's indexed slice/transform pair emission must equal the
    // obvious all-pairs spec on every sorted distinct basket
    import spark.implicits._
    val baskets = (0 until 100).map { i =>
      val g = Gen.listOf(Gen.choose(1L, 40L))
      val parts = g.apply(Gen.Parameters.default, Seed(42L + i))
        .getOrElse(Nil).distinct.sorted
      (i.toLong, parts)
    }
    val got = baskets.toDF("basket_id", "parts")
      .select(col("basket_id"), explode_outer(expr(
        "flatten(transform(parts, (x, i) -> " +
          "transform(slice(parts, i + 2, size(parts)), " +
          "y -> struct(x as pa, y as pb))))")).as("pp"))
      .select(col("basket_id"), col("pp.pa"), col("pp.pb"))
      .collect()
      .filter(r => !r.isNullAt(1))
      .groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(r => (r.getLong(1), r.getLong(2))).toSet }
    baskets.foreach { case (id, parts) =>
      val expected = (for {
        a <- parts; b <- parts if a < b
      } yield (a, b)).toSet
      assert(got.getOrElse(id, Set.empty) == expected,
        s"basket $id: generator pairs diverge from the naive spec")
    }
  }

  test("upper_triangle_pairs == the composed HOF pair generator, values AND order") {
    // the r13 codegen'd enumeration (graft.plans.UpperTrianglePairs)
    // replaced the flatten/transform/slice form at b102/b88/c51/c58 —
    // the two must agree element-for-element (including emission
    // order, so even an order-sensitive consumer is bit-identical),
    // for long AND string elements, including empty and 1-element
    // arrays
    import spark.implicits._
    val longBaskets = (0 until 60).map { i =>
      val g = Gen.listOf(Gen.choose(1L, 40L))
      (i.toLong, g.apply(Gen.Parameters.default, Seed(7L + i))
        .getOrElse(Nil).distinct.sorted)
    }
    val hof = "flatten(transform(xs, (a, i) -> " +
      "transform(slice(xs, i + 2, size(xs)), b -> struct(a, b))))"
    def pairsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Row])] =
      df.orderBy("id").collect().toSeq
        .map(r => r.getLong(0) -> r.getSeq[Row](1))
    val ldf = longBaskets.toDF("id", "xs")
    assert(
      pairsOf(ldf.select(col("id"), Fns.upperTrianglePairs(col("xs")).as("p"))) ==
      pairsOf(ldf.select(col("id"), expr(hof).as("p"))),
      "long-element pairs diverge from the HOF form")
    val strBaskets = longBaskets.map { case (id, xs) =>
      (id, xs.map(v => s"s$v"))
    }
    val sdf = strBaskets.toDF("id", "xs")
    assert(
      pairsOf(sdf.select(col("id"), Fns.upperTrianglePairs(col("xs")).as("p"))) ==
      pairsOf(sdf.select(col("id"), expr(hof).as("p"))),
      "string-element pairs diverge from the HOF form")
    // degenerate sizes explicitly: 0, 1 and 2 elements
    val edge = Seq((0L, Seq.empty[Long]), (1L, Seq(5L)), (2L, Seq(3L, 9L)))
      .toDF("id", "xs")
    assert(
      pairsOf(edge.select(col("id"), Fns.upperTrianglePairs(col("xs")).as("p"))) ==
      pairsOf(edge.select(col("id"), expr(hof).as("p"))),
      "degenerate-size pairs diverge from the HOF form")
  }

  test("winnowing_fps == the composed md5/transform/slice/array_min form") {
    // the r13 codegen'd kernel (graft.plans.WinnowingFps) must emit
    // exactly the hashes-and-window-minima array the HOF form emitted,
    // for every w, including the degenerate n < w window and n == 0,
    // and null grams (md5 keeps them null; array_min skips them, so an
    // all-null window is null)
    import spark.implicits._
    val rows = (0 until 50).map { i =>
      val g = Gen.listOf(Gen.alphaLowerStr.map(_.take(6)))
      (i.toLong, g.apply(Gen.Parameters.default, Seed(99L + i))
        .getOrElse(Nil))
    } ++ Seq((1000L, Nil), (1001L, List("one")), (1002L, List("a", "b")),
      (1003L, List("a", null, "b", "c")), (1004L, List(null, null, "d")),
      (1005L, List(null)), (1006L, List(null, "e", null, null, null, null, null, "f")))
    val df = rows.toDF("id", "gs")
    for (w <- Seq(1, 2, 4, 7)) {
      val hof = df.select(col("id"),
          expr("transform(gs, g -> substring(md5(g), 1, 8))").as("hs"))
        .select(col("id"),
          when(size(col("hs")) < w, col("hs"))
            .otherwise(expr(
              s"transform(sequence(1, size(hs) - ${w - 1}), " +
                s"i -> array_min(slice(hs, i, $w)))")).as("fps"))
        .orderBy("id").collect().map(r => r.getLong(0) -> r.getSeq[String](1))
      val got = df.select(col("id"), Fns.winnowingFps(col("gs"), w).as("fps"))
        .orderBy("id").collect().map(r => r.getLong(0) -> r.getSeq[String](1))
      assert(got.toSeq == hof.toSeq,
        s"w=$w: winnowing_fps diverges from the HOF form")
    }
  }

  test("rank-sum AUC: == pairwise definition, monotone-invariant, ~complement-symmetric") {
    import spark.implicits._
    import graft.operators.Stats
    val data = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 30L), Gen.oneOf(0L, 1L)))
    forAll1(data, trials = 60) { rows =>
      val haveBoth = rows.exists(_._2 == 1L) && rows.exists(_._2 == 0L)
      if (haveBoth) {
        val df = rows.map { case (s, y) => ("g", s, y) }.toDF("g", "s", "y")
        def auc(score: org.apache.spark.sql.Column,
                label: org.apache.spark.sql.Column): Long =
          Stats.aucBySegment(df, "g", score, label)
            .collect().head.getAs[Long]("auc_ppm")
        val got = auc(col("s"), col("y"))
        // pairwise definition: wins + half-ties over pos×neg, floored
        val pos = rows.filter(_._2 == 1L).map(_._1)
        val neg = rows.filter(_._2 == 0L).map(_._1)
        val w2 = (for (p <- pos; n <- neg)
          yield if (p > n) 2L else if (p == n) 1L else 0L).sum
        assert(got == w2 * 1000000L / (2L * pos.size * neg.size))
        // AUC sees only rank order: a positive affine map changes nothing
        assert(auc(col("s") * 3L + 7L, col("y")) == got)
        // swapping the classes reflects it (±1 ppm from the two floors)
        val swapped = auc(col("s"), lit(1L) - col("y"))
        assert(math.abs(swapped + got - 1000000L) <= 1,
          s"auc $got + swapped $swapped should reflect around 1e6")
      }
    }
  }

  test("CUSUM closed form (cum - min(0, runmin(cum))) == the max(0, S+y) recursion") {
    // b99's re-expression: the recursion S_t = max(0, S_{t-1} + y_t) is
    // what window functions can't do directly; the closed form is what
    // the query computes. They must agree on every integer series.
    val series = Gen.listOf(Gen.choose(-1000000L, 1000000L))
    forAll1(series, trials = 500) { ys =>
      val recursive = ys.scanLeft(0L)((s, y) => math.max(0L, s + y)).tail
      val cums = ys.scanLeft(0L)(_ + _).tail
      val closed = cums.zipWithIndex.map { case (c, i) =>
        c - math.min(0L, cums.take(i + 1).min)
      }
      assert(closed == recursive)
    }
  }
}

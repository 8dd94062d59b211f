package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, TextAnalysis}

/** Regression specs for review findings: null-content semantics and
  * hostile routing keys. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("null text scores as empty, never 0.75") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.quality(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Double]("quality_score") == out(1).getAs[Double]("quality_score"))
    assert(out(0).getAs[Long]("n_tokens") == 0L)
    val counts = docs.select(
      TextAnalysis.wsTokenCount(col("text")).as("ws"),
      TextAnalysis.bpeTokenCount(col("text")).as("bpe")).collect()
    assert(counts.forall(r => r.getInt(0) == 0 && r.getInt(1) == 0))
  }

  test("null-text rows are not duplicates of each other") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
      (3L, "real"), (4L, "real")).toDF("doc_id", "text")
    val kept = Dedup.dropExactDups(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L)) // both nulls survive; 4 is a dup of 3
    assert(Dedup.exact(docs, "doc_id", "text").count() == 1) // only "real" groups
  }

  test("minHashLsh rejects bands that don't divide k") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.minHashLsh(docs, "doc_id", "text", k = 8, bands = 16)
    }
    intercept[IllegalArgumentException] {
      Dedup.minHashLsh(docs, "doc_id", "text", k = 8, bands = 3)
    }
  }

  test("decodeStubBatched matches the column path on null blobs") {
    val media = Seq((1L, "bytes"), (2L, null.asInstanceOf[String]))
      .toDF("media_id", "payload")
      .withColumn("media_blob", encode(col("payload"), "UTF-8"))
    val batched = Multimodal.decodeStubBatched(media, "media_id", "media_blob")
      .orderBy("media_id").collect()
    assert(batched(0).getAs[Long]("byte_len") == 5L)
    assert(batched(1).getAs[Any]("byte_len") == null)
    assert(batched(1).getAs[Any]("feature_md5") == null)
  }

  test("funnel on events matching no condition yields level 0, not empty") {
    import spark.implicits._
    val df = Seq((1L, 1L, 10L, "other")).toDF("user_id", "event_id", "ts", "event_type")
    val got = graft.operators.Funnel.windowFunnel(df, "user_id", "ts", "event_id",
      Seq(col("event_type") === "s", col("event_type") === "c"), 100L)
      .collect()
    assert(got.length == 1 && got(0).getLong(1) == 0L)
  }

  test("connectedComponents on an empty pair list returns empty, converged") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(graft.operators.Dedup.connectedComponents(empty, "id1", "id2").isEmpty)
  }

  test("splitter rejects fractions that don't sum to 1") {
    import spark.implicits._
    val df = Seq(1L).toDF("doc_id")
    intercept[IllegalArgumentException] {
      graft.operators.Splitter.hashSplit(df, "doc_id",
        Seq("a" -> 0.5, "b" -> 0.3))
    }
  }

  test("heavy hitters ignores nulls; empty input yields empty map") {
    import spark.implicits._
    val df = Seq(Some("a"), None, Some("a")).toDF("v")
    val hh = df.agg(graft.functions.Fns.heavyHitters(col("v"), 4).as("hh"))
      .collect()(0).getAs[Map[String, Long]]("hh")
    assert(hh === Map("a" -> 2L))
    val none = Seq.empty[String].toDF("v")
      .agg(graft.functions.Fns.heavyHitters(col("v"), 4).as("hh"))
      .collect()(0).getAs[Map[String, Long]]("hh")
    assert(none === Map.empty)
  }

  test("tfidf of an empty corpus is empty, not a crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.TfIdf.topTerms(empty, "doc_id", "text", 3).isEmpty)
  }

  test("hostile event_type values cannot escape the output root") {
    // the evolving sinks name a type's directory with Spark's own
    // partitionBy escaper, so partition discovery reads it back intact
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}
    assert(escapePathName("click") == "click")
    assert(!escapePathName("page/view").contains("/"))
    assert(!escapePathName("../../etc").contains("/"))
    assert(!escapePathName("a b=c").contains("="))
    // space and non-ASCII letters pass through RAW (Spark's partition
    // unescaping decodes each %XX as ONE char, so an escape wider than
    // one byte would be mangled on read)
    assert(escapePathName("a b") == "a b")
    assert(escapePathName("中") == "中")
    // every emitted escape is exactly %XX (decodable one char at a time)
    assert("%(?![0-9A-F]{2})".r.findFirstIn(escapePathName("a%b/c\nd")).isEmpty)
    // distinct inputs stay distinct after escaping ('%' itself escapes)
    assert(escapePathName("a/b") != escapePathName("a_b"))
    assert(escapePathName("a%2Fb") != escapePathName("a/b"))
    // round-trips through Spark's own unescape
    val interesting = (0 until 0x80).map(_.toChar.toString) ++
      Seq("click", "page view", "a/b", "../x", "a%2Fb", "中", "é",
        "a b", "x=y", "q?r", "s*t", "{u}", "[v]", "w^z", "\"q'",
        "a:b", "c\\d", "e#f", "tab\there", "nl\nhere", "del")
    interesting.foreach { s =>
      assert(unescapePathName(escapePathName(s)) == s,
        s"unescape round-trip broken on ${s.map(_.toInt)}")
    }
  }

  test("substringScrub: overlapping duplicated windows cut positions once (union, not sum)") {
    // docs share the 4-token span "a b c d" -> two overlapping 3-token
    // windows per doc; the covered-position UNION is 4 tokens, not 6
    val docs = Seq(
      (1L, "a b c d x"),
      (2L, "y a b c d")
    ).toDF("doc_id", "text")
    val got = Dedup.substringScrub(docs, "doc_id", "text", windowTokens = 3)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens_kept"), r.getAs[String]("scrubbed_text"))))
      .toMap
    assert(got === Map(1L -> ((1L, "x")), 2L -> ((1L, "y"))))
  }

  test("lttb: flat series ties resolve to the min tie-break id per bucket") {
    import graft.operators.Series
    // constant y -> every middle-bucket area is 0 -> id decides
    val ev = (1L to 9L).map(i => ("k", i, i * 10L, 5L))
      .toDF("k", "id", "x", "y")
    val got = Series.lttb(ev, "k", col("x"), col("y"), col("id"), buckets = 3)
      .select(col("bucket"), col("pick_id"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((0L, 1L), (1L, 4L), (2L, 9L)))
  }

  test("semDedup refuses an empty centroid set instead of returning empty results") {
    val vs = Seq((1L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0))).toDF("vec_id", "v")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.semDedup(vs, "vec_id", "v",
        stride = 100L, threshold = 0.9)
    }
    assert(e.getMessage.contains("centroid"))
  }

  test("collapseVersioned: a key whose only live version has a double-written state keeps exactly one row") {
    import graft.operators.Collapsing
    val writes = Seq(
      (1L, 1L, 10L, 1), (1L, 1L, 11L, 1), (1L, 1L, 12L, -1))
      .toDF("k", "ver", "seq", "sign")
    val out = Collapsing.collapseVersioned(writes, Seq("k"), col("ver"),
        col("sign"), tieBreak = Seq(col("seq")))
      .select("k", "seq").as[(Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 11L))) // net +1: the later copy survives
  }

  test("r7 kernels on degenerate corpora: empty, sub-n-gram, no-centroid") {
    // adjacentPairs: one-token docs produce no pairs (not a crash, not
    // a null pair); KN continuation over them is empty
    val tiny = Seq("x", "", "  ").toDF("text")
    assert(TrainingQueries8.adjacentPairs(tiny).count() == 0)
    assert(TrainingQueries8.knContinuation(tiny, 5)._1.count() == 0)

    // containment: docs shorter than the shingle width vanish before
    // the join (size(shs) > 0 filter), so no null-shingle candidates
    val short = Seq((1L, Seq("a", "b")), (2L, Seq("c"))).toDF("doc_id", "tk")
    assert(TrainingQueries8.containmentPairs(short, 0L).count() == 0)

    // knnGraph: a stride with no matching id must fail loudly (an
    // empty centroid set would silently return an empty graph)
    val emb = Seq((1L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.knnGraph(emb, "vec_id", "embedding",
        k = 2, stride = 100)
    }
    assert(e.getMessage.contains("no centroids"))
  }

  test("winnowing_fps rejects a window below 1 by name") {
    val e = intercept[IllegalArgumentException] {
      graft.functions.Fns.winnowingFps(col("gs"), 0)
    }
    assert(e.getMessage.contains("window w must be >= 1, got 0"))
  }

  test("upper_triangle_pairs names a pair count past the array limit") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    // 65537 elements make 2,147,516,416 pairs: one over Int.MaxValue,
    // where an Int product wrapped to a small positive size
    val xs = Literal.create(Array.range(0, 65537).map(_.toLong),
      ArrayType(LongType, containsNull = false))
    val e = intercept[IllegalArgumentException] {
      graft.plans.UpperTrianglePairs(xs).eval()
    }
    assert(e.getMessage.contains("65537 elements make 2147516416 pairs"))
  }
}

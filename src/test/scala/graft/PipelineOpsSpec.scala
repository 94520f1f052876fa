package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-4 pipeline operators: CDC compaction,
  * repetition signals, salient-term extraction, HLL registry query
  * (sf0.001 tables; value-exactness is the DuckDB gate's job). */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.queries(name)(spark, dir)

  test("cdc_latest_by_key emits one row per live key, the max-ts version") {
    val out = q("cdc_latest_by_key").cache()
    val events = graft.core.Tables.events(spark, dir)
    val keys = events.select("user_id", "event_type").distinct()
    assert(out.count() == keys.count())
    // each kept ts is the key's max ts; n_versions sums to the table size
    val maxes = events.groupBy("user_id", "event_type")
      .agg(max(unix_micros(col("ts"))).as("mx"))
    val bad = out.join(maxes, Seq("user_id", "event_type"))
      .where(col("ts_us") =!= col("mx"))
    assert(bad.isEmpty)
    assert(out.agg(sum("n_versions")).head().getLong(0) == events.count())
  }

  test("repetition ratios are consistent with their integer counts") {
    val out = q("text_repetition_ratio").collect()
    assert(out.nonEmpty)
    assert(out.forall { r =>
      val (n2, d2) = (r.getLong(1), r.getLong(2))
      val (dup, top) = (r.getDouble(3), r.getDouble(4))
      d2 >= 1 && d2 <= n2 &&
        dup == (n2 - d2).toDouble / n2 &&
        top >= 1.0 / n2 && top <= 1.0
    })
  }

  test("tfidf_top_terms: ranks 1..3 per doc, scores non-increasing") {
    val out = q("tfidf_top_terms").cache()
    val byDoc = out.groupBy("doc_id")
      .agg(collect_list(struct(col("rk"), col("score"))).as("l"))
      .select(col("doc_id"), sort_array(col("l")).as("l"))
      .collect()
    assert(byDoc.nonEmpty)
    byDoc.foreach { r =>
      val l = r.getSeq[org.apache.spark.sql.Row](1)
      assert(l.map(_.getInt(0)) == (1 to l.size))
      val scores = l.map(_.getDouble(1))
      assert(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b })
    }
  }

  test("bloom screen has NO false negatives; hit counts are in range") {
    val out = q("dedup_bloom_screen").cache()
    // every exact duplicate must be bloom-flagged — the filter's contract
    assert(out.where(col("exact_dup") === 1 && col("bloom_hit") === 0).isEmpty)
    assert(out.where(col("n_bits_hit") < 0 || col("n_bits_hit") > 3).isEmpty)
    // only new-partition docs are screened
    assert(out.where(col("doc_id") % 5 =!= 0).isEmpty)
  }

  test("corpus fluency: hapax_frac and mean_ctf consistent with token counts") {
    val out = q("text_corpus_fluency").collect()
    assert(out.nonEmpty)
    assert(out.forall { r =>
      val (n, mean, hap) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      n >= 1 && mean >= 1.0 && hap >= 0.0 && hap <= 1.0
    })
  }

  test("payload_phash codegen expression matches the kernel on every doc") {
    GraftExtensions.install(spark)
    import org.apache.spark.sql.functions.expr
    val got = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), expr("payload_phash(CAST(text AS BINARY))").as("ph"),
              col("text"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val ref = graft.plans.PhashExpr.hash48(
        r.getString(2).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(r.getLong(1) == ref, s"doc ${r.getLong(0)}")
      assert(r.getLong(1) >= 0 && r.getLong(1) < (1L << 48))
    }
  }

  test("phash dedup finds every exact duplicate pair at hamming 0") {
    val out = q("mm_phash_dedup").cache()
    assert(out.where(col("hamming") < 0 || col("hamming") > 3).isEmpty)
    // identical payloads hash identically -> every exact-dup pair appears
    val docs = graft.core.Tables.documents(spark, dir)
    val exactPairs = docs.as("a").join(docs.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    assert(exactPairs.except(out.select("a_id", "b_id")).isEmpty)
    assert(out.where(col("ph_a") === col("ph_b") && col("hamming") =!= 0).isEmpty)
  }

  test("sketch_hll_distinct estimates within the m=64 band of the exact count") {
    val rows = q("sketch_hll_distinct").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val est = r.getDouble(2)
      assert(math.abs(est - exact) / exact < 0.5, s"${r.getString(0)}: $est vs $exact")
    }
  }
}

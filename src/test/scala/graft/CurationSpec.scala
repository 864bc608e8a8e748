package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the §2.11 curation/packing operators over real test data
  * (value-level properties the DuckDB oracle can't state directly). */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val d = "/root/testdata/sf0.001"

  def run(name: String) = SparkEntry.queries(name)(spark, d)

  test("pack_sequences: chunks partition the token stream exactly") {
    val chunks = run("pack_sequences")
      .select($"doc_id", $"chunk_idx", $"chunk_len")
      .as[(Long, Int, Int)].collect().groupBy(_._1)
    val nTokens = run("text_stats").select($"doc_id", $"n_tokens")
      .as[(Long, Long)].collect().toMap
    chunks.foreach { case (doc, rows) =>
      val sorted = rows.sortBy(_._2)
      // contiguous indices from 0; every chunk full except possibly the last
      assert(sorted.map(_._2).toSeq == sorted.indices.toSeq)
      assert(sorted.init.forall(_._3 == 32) || sorted.size == 1)
      assert(sorted.forall(r => r._3 >= 1 && r._3 <= 32))
      assert(sorted.map(_._3.toLong).sum == nTokens(doc), s"doc $doc")
    }
  }

  test("quantize_embed: quantized values bounded in [0, 255]") {
    val out = run("quantize_embed")
      .select($"q0", $"q1", $"q2", $"q3", $"qsum")
      .as[(Int, Int, Int, Int, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (a, b, c, e, qsum) =>
      Seq(a, b, c, e).foreach(q => assert(q >= 0 && q <= 255))
      assert(qsum >= 0 && qsum <= 255L * 64)
    }
  }

  test("sample_mix: deterministic subset with per-source rates") {
    val once = run("sample_mix").as[(Long, String)].collect().toSeq
    val again = run("sample_mix").as[(Long, String)].collect().toSeq
    assert(once == again, "sampling must be reproducible")
    val total = run("text_stats").count()
    assert(once.nonEmpty && once.size < total)
    // src3 keeps everything (rate (3%4+1)*64 = 256): no doc of src3 dropped
    val src3All = graft.ops.Tables.documents(spark, d)
      .filter($"source" === "src3").count()
    assert(once.count(_._2 == "src3").toLong == src3All)
  }

  test("text_repetition: dup fraction is a ratio in [0, 1]") {
    val out = run("text_repetition")
      .select($"dup_frac").as[Option[Double]].collect()
    assert(out.nonEmpty)
    out.flatten.foreach(f => assert(f >= 0.0 && f <= 1.0))
  }

  test("text_clean: every injected PII token is scrubbed") {
    val rows = run("text_clean")
      .select($"cleaned", $"n_url", $"n_email", $"n_num")
      .as[(String, Int, Int, Int)].collect()
    rows.foreach { case (s, u, e, n) =>
      assert(!s.contains("bob.smith") && !s.contains("https://"))
      assert(u >= 1 && e >= 1 && n >= 1) // the dirty prefix always hits
    }
  }

  test("dedup_purge: keepers are a subset containing every cluster minimum") {
    val kept = run("dedup_purge").select($"doc_id").as[Long].collect().toSet
    val clusters = run("dedup_clusters")
      .as[(Long, Long)].collect()
    val reps = clusters.map(_._2).toSet
    assert(kept == reps, "purged corpus = exactly the cluster representatives")
    clusters.foreach { case (doc, rep) => assert(rep <= doc) }
  }

  test("dedup_keep_best: one keeper per cluster, and it is the longest doc") {
    val clusters = run("dedup_clusters")
      .select($"doc_id", $"rep").as[(Long, Long)].collect()
    val byCluster = clusters.groupBy(_._2)
    val lengths = graft.ops.Tables.documents(spark, d)
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    val kept = run("dedup_keep_best")
      .select($"doc_id", $"dups").as[(Long, Long)].collect()
    assert(kept.length == byCluster.size, "exactly one keeper per cluster")
    val repOf = clusters.toMap
    kept.foreach { case (keeper, dups) =>
      val members = byCluster(repOf(keeper)).map(_._1)
      assert(dups == members.length, s"cluster size wrong for keeper $keeper")
      val best = members.maxBy(m => (lengths(m), -m))
      assert(keeper == best, s"keeper $keeper is not the longest member")
    }
  }

  test("split_assign: total partition of the corpus, ~90/5/5") {
    val splits = run("split_assign").select($"doc_id", $"split")
      .as[(Long, String)].collect()
    assert(splits.length == run("text_stats").count())
    val frac = splits.groupBy(_._2).view.mapValues(_.length.toDouble / splits.length)
    assert(frac("train") > 0.82 && frac("train") < 0.95, s"train ${frac("train")}")
    assert(frac("val") > 0.01 && frac("val") < 0.10)
    assert(frac("test") > 0.01 && frac("test") < 0.10)
  }

  test("select_budget: selection is a prefix of the hash order within budget") {
    val sel = run("select_budget")
      .select($"doc_id", $"n_chars", $"cum").as[(Long, Long, Long)].collect()
    assert(sel.nonEmpty)
    assert(sel.forall(_._3 <= 50000), "every running total inside the budget")
    // the two-phase cum must equal the sequential prefix sum in hash order
    val haveSet = sel.map(_._1).toSet
    val all = graft.ops.Tables.documents(spark, d)
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect()
    def hkey(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(s"sel:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ordered = all.sortBy { case (id, _) => (hkey(id), id) }
    var cum = 0L
    val expected = ordered.takeWhile { case (_, n) => cum += n; cum <= 50000 }
      .map(_._1).toSet
    assert(haveSet == expected, "selection must be exactly the budget prefix")
  }

  test("contamination_frac agrees with the decontaminate boolean; eval docs score 1.0 (X59)") {
    val frac = run("contamination_frac")
      .as[(Long, Long, Long, Double)].collect()
    val flag = run("decontaminate").as[(Long, Int)].collect().toMap
    frac.foreach { case (id, nSh, nHit, f) =>
      assert(f >= 0.0 && f <= 1.0 && nHit <= nSh)
      // the X7 boolean and the X59 fraction must never disagree
      assert((flag(id) == 1) == (nHit > 0), s"doc $id: flag=${flag(id)} hits=$nHit")
      // an eval-set doc shares ALL its shingles with the eval set
      if (id % 100 == 0 && nSh > 0) assert(f == 1.0, s"eval doc $id frac=$f")
    }
    assert(frac.exists(r => r._4 > 0.0 && r._4 < 1.0),
      "fixture should contain partial overlap (else the fraction adds nothing over X7)")
  }

  test("decontaminate_bloom: bit-identical to the exact broadcast path (fpp only costs work, never rows)") {
    val exact = run("decontaminate").as[(Long, Int)].collect().toSeq
    val bloom = run("decontaminate_bloom").as[(Long, Int)].collect().toSeq
    assert(bloom == exact && exact.nonEmpty)
    assert(exact.exists(_._2 == 1) && exact.exists(_._2 == 0),
      "fixture must exercise both outcomes or the equivalence is vacuous")
  }

  test("doc_quality_composite: micro-point scores bounded in [0, 1e6], every doc scored (X58)") {
    val out = run("doc_quality_composite")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.length == graft.ops.Tables.documents(spark, d).count())
    out.foreach { case (id, n, stop, _, s) =>
      assert(s >= 0L && s <= 1000000L, s"doc $id score $s out of bounds")
      assert(stop <= n)
    }
  }
}

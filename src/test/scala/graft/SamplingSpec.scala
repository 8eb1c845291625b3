package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Sampling}
import graft.functions.TextAnalysis

/** Deterministic sampling/splitting/mixing and the curation pipeline. */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ids = spark.range(0, 10000).select(col("id"))

  test("hashSample is deterministic, partition-independent, and ~fraction-sized") {
    val a = Sampling.hashSample(ids, "id", 0.25, salt = "s").select("id").as[Long].collect().toSet
    val b = Sampling.hashSample(ids.repartition(13), "id", 0.25, salt = "s")
      .select("id").as[Long].collect().toSet
    assert(a == b, "sample must not depend on partitioning")
    // sha buckets are uniform: 25% ± a generous tolerance on 10k rows
    assert(math.abs(a.size - 2500) < 250, s"sample size ${a.size} far from 2500")
  }

  test("epochMix: ⌊w⌋ or ⌈w⌉ copies per doc, nested in w, unlisted sources dropped") {
    val corpus = spark.range(0, 1000)
      .select(col("id"), when(col("id") < 500, "a").otherwise("b").as("source"))
    val out = Sampling.epochMix(corpus, "id", "source", Map("a" -> 2.4), salt = "t")
    val perDoc = out.groupBy("id").count().select("count").as[Long].collect()
    assert(perDoc.forall(c => c == 2 || c == 3), "each doc must appear ⌊w⌋ or ⌈w⌉ times")
    val total = perDoc.sum
    assert(math.abs(total - 1200) < 60, s"E[total] = 500·2.4 = 1200, got $total")
    assert(out.filter(col("source") === "b").count() == 0, "unlisted source must drop")
    // epochs tag 0..n-1 per doc
    val epochs = out.filter(col("id") === 0).select("epoch").as[Int].collect().sorted
    assert(epochs.sameElements(Array.range(0, epochs.length)))
    // nested: 2.4 → 2.5 only adds (id, epoch) rows
    val k24 = out.select("id", "epoch").as[(Long, Int)].collect().toSet
    val k25 = Sampling.epochMix(corpus, "id", "source", Map("a" -> 2.5), salt = "t")
      .select("id", "epoch").as[(Long, Int)].collect().toSet
    assert(k24.subsetOf(k25), "raising the weight must only ADD copies")
  }

  test("samples are NESTED in the fraction and independent across salts") {
    val p25 = Sampling.hashSample(ids, "id", 0.25, salt = "s").select("id").as[Long].collect().toSet
    val p50 = Sampling.hashSample(ids, "id", 0.50, salt = "s").select("id").as[Long].collect().toSet
    assert(p25.subsetOf(p50), "raising the rate must only ADD rows")
    val other = Sampling.hashSample(ids, "id", 0.25, salt = "t").select("id").as[Long].collect().toSet
    // independent 25% samples overlap on ~6.25% of rows, not ~25%
    val overlap = (p25 & other).size.toDouble / 10000
    assert(overlap > 0.02 && overlap < 0.12, s"salted samples not independent: overlap $overlap")
  }

  test("weightedSample: w=ref reduces to hashSample; keeps scale with weight; 0/NULL never kept") {
    val weighted = ids
      .withColumn("w", when(col("id") % 4 === 0, lit(null).cast("long"))
        .otherwise((col("id") % 3) * 500)) // weights: NULL, 0, 500, 1000
    // at weight == refWeight the decision is EXACTLY hashSample's
    val ref = ids.withColumn("w", lit(1000L))
    val a = Sampling.weightedSample(ref, "id", "w", 0.25, refWeight = 1000, salt = "s")
      .select("id").as[Long].collect().toSet
    val b = Sampling.hashSample(ids, "id", 0.25, salt = "s").select("id").as[Long].collect().toSet
    assert(a == b, "weight==refWeight must reduce to the unweighted sample")
    val kept = Sampling.weightedSample(weighted, "id", "w", 0.25, refWeight = 1000, salt = "s")
      .select("id", "w").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(!kept.values.exists(w => w == null || w == 0L), "zero/NULL weight rows must never be kept")
    // inclusion is nested in the weight: the 500-weight kept set is a
    // subset of what those same ids would get at weight 1000 (= hashSample)
    val w500 = kept.collect { case (id, 500L) => id }.toSet
    assert(w500.subsetOf(b), "halving the weight must only REMOVE rows")
    // and proportional: ~12.5% of the 500-weight rows vs ~25% at 1000
    val n500Total = weighted.filter(col("w") === 500L).count()
    assert(math.abs(w500.size.toDouble / n500Total - 0.125) < 0.04,
      s"500-weight keep rate ${w500.size.toDouble / n500Total} far from 0.125")
  }

  test("weightedSample rejects fractional weight columns instead of silently rounding") {
    val frac = ids.withColumn("w", col("id") / 3.0)
    val e = intercept[IllegalArgumentException] {
      Sampling.weightedSample(frac, "id", "w", 0.5, refWeight = 10)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("hashSplit is disjoint, exhaustive, and hits the weight grid exactly") {
    val split = Sampling.hashSplit(
      ids, "id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), granularity = 10)
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 10000L, "split must be exhaustive")
    // granularity 10 → buckets 0-7 train, 8 val, 9 test; uniform hash
    assert(counts("train") > 7500 && counts("train") < 8500, s"train share off: $counts")
    assert(counts("val") > 600 && counts("val") < 1400, s"val share off: $counts")
    // a row's split never depends on other rows: re-split of a SUBSET agrees
    val sub = Sampling.hashSplit(
      ids.filter(col("id") < 100), "id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      granularity = 10)
    val full = split.filter(col("id") < 100)
    assert(sub.exceptAll(full).isEmpty && full.exceptAll(sub).isEmpty)
  }

  test("mixCorpora tags sources and samples each at its own salted rate") {
    val a = spark.range(0, 1000).select(col("id"))
    val b = spark.range(1000, 2000).select(col("id"))
    val mix = Sampling.mixCorpora(Seq(("a", a, 1.0), ("b", b, 0.2)), "id")
    val counts = mix.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("a") == 1000L, "rate 1.0 must keep every row")
    assert(counts("b") > 100 && counts("b") < 320, s"rate 0.2 share off: $counts")
  }

  test("groupSample takes exactly k stable rows per group, independent of partitioning") {
    val df = spark.range(0, 3000)
      .select(col("id"), (col("id") % 7).cast("string").as("g"))
    val a = Sampling.groupSample(df, "g", "id", k = 5, salt = "eval")
      .select("g", "id").as[(String, Long)].collect().toSet
    val b = Sampling.groupSample(df.repartition(11), "g", "id", k = 5, salt = "eval")
      .select("g", "id").as[(String, Long)].collect().toSet
    assert(a == b)
    assert(a.groupBy(_._1).forall(_._2.size == 5), "every group must contribute exactly k")
    // selection within a group only depends on that group's members: a
    // different group's rows never change it
    val dropOther = Sampling.groupSample(df.filter(col("g") =!= "3"), "g", "id", k = 5, salt = "eval")
      .select("g", "id").as[(String, Long)].collect().toSet
    assert(dropOther == a.filterNot(_._1 == "3"))
  }

  test("scrub masks emails and URLs and normalizes whitespace") {
    val out = Seq(
      (1L, "write to a.user+x@mail.example.org   today"),
      (2L, "see https://example.com/a?b=1 or www.example.org/x"),
      (3L, "  just   text  ")
    ).toDF("id", "text")
      .select(col("id"), TextAnalysis.scrub(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "write to <EMAIL> today")
    assert(out(2L) == "see <URL> or <URL>")
    assert(out(3L) == "just text")
  }

  test("curate drops junk, keeps min-id fingerprint survivor, tags language") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"), // dup of 1
      (3L, "tiny"), // fails minChars/minTokens
      (4L, "THE QUICK BROWN FOX SHOUTS VERY LOUDLY AT EVERYONE HERE"), // upper junk
      (5L, "der hund ist nicht ein tier mit format und stil hier")
    ).toDF("doc_id", "text")
    val out = Curation.curate(corpus, "doc_id", "text")
      .select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 5L), s"expected survivors 1 and 5, got ${out.keySet}")
    assert(out(1L) == "en" && out(5L) == "de")
  }

  test("curate repetition gates drop boilerplate when enabled, change nothing when off") {
    val spam = ("the daily offer is here today " * 8).trim // 3-gram loops
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, spam)
    ).toDF("doc_id", "text")
    // off (default): both survive the standard gates
    assert(Curation.curate(corpus, "doc_id", "text").count() == 2)
    val gated = Curation.curate(corpus, "doc_id", "text",
      Curation.QualityThresholds(maxDup3gramRatio = Some(0.5)))
    val kept = gated.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L), s"spam doc should fail the 3-gram gate, kept $kept")
    // the repetition feature columns ride along when the gate is on
    assert(gated.columns.contains("dup_3gram_ratio"))
  }

  test("leakageSafeSplit keeps near-dup clusters in one split where a naive split leaks") {
    val corpus = spark.range(0, 2000).select(col("id").as("doc_id"))
    // chains a—(a+10000)—(a+20000) for every 5th doc: transitive clusters
    val fifth = corpus.filter(col("doc_id") % 5 === 0)
    val aug = corpus
      .unionByName(fifth.select((col("doc_id") + 10000L).as("doc_id")))
      .unionByName(fifth.select((col("doc_id") + 20000L).as("doc_id")))
    val pairs = fifth
      .select(col("doc_id").as("a"), (col("doc_id") + 10000L).as("b"))
      .unionByName(fifth
        .select((col("doc_id") + 10000L).as("a"), (col("doc_id") + 20000L).as("b")))
    val split = Sampling.leakageSafeSplit(aug, "doc_id", pairs, "a", "b",
      Seq(("train", 0.9), ("eval", 0.1)), salt = "t")
    // every cluster resolves to the hub and is split as one unit
    val leaks = split
      .withColumn("hub",
        when(col("doc_id") >= 10000L, col("doc_id") % 10000L).otherwise(col("doc_id")))
      .groupBy("hub").agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1)
    assert(leaks.count() == 0, "a cluster crossed the train/eval boundary")
    assert(split.count() == aug.count(), "split must be exhaustive")
    // the group label is the min member (hub) for clustered docs
    val g = split.filter(col("doc_id") === 10000L).select("split_group").as[Long].head()
    assert(g == 0L)
    // control: the naive per-doc split DOES leak on this fixture — the
    // operator is load-bearing, not vacuous
    val naive = Sampling.hashSplit(aug, "doc_id", Seq(("train", 0.9), ("eval", 0.1)), salt = "t")
      .withColumn("hub",
        when(col("doc_id") >= 10000L, col("doc_id") % 10000L).otherwise(col("doc_id")))
      .groupBy("hub").agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1)
    assert(naive.count() > 0, "fixture too small to demonstrate naive leakage")
  }

  test("selectTokenBudget equals the naive global-order prefix, boundary bucket included") {
    val rng = new scala.util.Random(11)
    // few distinct scores → the boundary bucket holds many tied rows, the
    // case the bucket-cumsum + in-bucket rank path exists for
    val rows = (1L to 2000L).map(i => (i, (rng.nextInt(8) + 1).toLong, (rng.nextInt(50) + 1).toLong))
    val df = rows.toDF("id", "score", "toks")
    for (budget <- Seq(0L, 500L, 17000L, 1000000L)) {
      val got = Curation.selectTokenBudget(df.repartition(7), "id", "score", "toks", budget)
        .select("id").as[Long].collect().toSet
      var cum = 0L
      val want = rows.sortBy(r => (-r._2, r._1)).takeWhile { r => cum += r._3; cum <= budget }
        .map(_._1).toSet
      assert(got == want, s"budget=$budget: got ${got.size} want ${want.size}")
    }
  }

  test("hash60Jvm matches the Column hash60 byte-for-byte") {
    val keys = Seq("0", "1", "17", "hello", "-5", "")
    val fromCol = keys.toDF("k")
      .select(col("k"), Sampling.hash60(col("k"), "neg").as("h"))
      .as[(String, Long)].collect().toMap
    keys.foreach { k =>
      assert(Sampling.hash60Jvm(k, "neg") == fromCol(k), s"mismatch for key '$k'")
    }
  }

  test("withGlobalRank assigns dense 0-based ranks in total order, partition-independent") {
    val df = spark.range(0, 5000).select((col("id") * 37 % 5000).as("v"))
    val ranked = Sampling.withGlobalRank(df.repartition(11), Seq("v"))
      .orderBy("v").as[(Long, Long)].collect()
    assert(ranked.length == 5000)
    ranked.zipWithIndex.foreach { case ((v, rk), i) =>
      assert(rk == i.toLong && v == i.toLong, s"rank $rk at sorted position $i (v=$v)")
    }
  }

  test("negativeSample: exactly k per anchor, k appearances per negative, no self-pairs, stable") {
    val docs = spark.range(0, 500).select(col("id").as("doc_id"))
    val neg = Sampling.negativeSample(docs, "doc_id", k = 3)
    val rows = neg.as[(Long, Int, Long)].collect()
    assert(rows.length == 1500)
    assert(rows.forall { case (a, _, n) => a != n }, "self-pairs must be impossible")
    val perAnchor = rows.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perAnchor.size == 500 && perAnchor.values.forall(_ == 3))
    // global-rotation uniformity: every doc serves as a negative exactly k times
    val perNeg = rows.groupBy(_._3).view.mapValues(_.length).toMap
    assert(perNeg.size == 500 && perNeg.values.forall(_ == 3))
    // deterministic under re-evaluation and input partitioning
    val again = Sampling.negativeSample(docs.repartition(7), "doc_id", k = 3)
      .as[(Long, Int, Long)].collect()
    assert(rows.toSet == again.toSet)
  }

  test("negativeSample offsets stay distinct even when raw residues collide (tiny n)") {
    // n = 5, k = 3: residues mod 5 collide with high probability — the
    // first-k-distinct derivation must still give 3 DIFFERENT rotations,
    // observable as every doc serving as a negative exactly 3 times
    val tiny = spark.range(0, 5).select(col("id").as("doc_id"))
    val rows = Sampling.negativeSample(tiny, "doc_id", k = 3)
      .as[(Long, Int, Long)].collect()
    assert(rows.length == 15)
    val perNeg = rows.groupBy(_._3).view.mapValues(_.length).toMap
    assert(perNeg.size == 5 && perNeg.values.forall(_ == 3),
      s"colliding rotations detected: $perNeg")
    rows.groupBy(_._1).foreach { case (a, ps) =>
      assert(ps.map(_._3).distinct.length == 3, s"anchor $a got duplicate negatives")
    }
  }

  test("selectTokenBudget keeps zero-token rows of a bucket starting exactly at the budget") {
    // A fills the budget exactly; B (0 tokens) in the NEXT score bucket has
    // naive cum == budget and must be kept; C (positive tokens) must not
    val df = Seq((1L, 5L, 10L), (2L, 4L, 0L), (3L, 4L, 5L)).toDF("id", "score", "toks")
    val kept = Curation.selectTokenBudget(df, "id", "score", "toks", budget = 10L)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L), s"got $kept")
  }

  test("temperatureMix: thresholds match the closed form; kept sets nested in the rate") {
    // domains A 400 / B 100 / C 25 rows → nMax = 400; with T = 2000 of
    // 10000, sqrt thresholds are A: 2000, B: 4000, C: 8000
    val df = spark.range(0, 525).select(col("id").as("k"),
      when(col("id") < 400, "A").when(col("id") < 500, "B").otherwise("C").as("dom"))
    val g = 10000
    def kept(rate: Double, temp: Sampling.Temperature): Set[Long] =
      Sampling.temperatureMix(df, "k", "dom", temp, rate, salt = "t", granularity = g)
        .select("k").as[Long].collect().toSet
    def domOf(id: Long): (String, Long) =
      if (id < 400) ("A", 400L) else if (id < 500) ("B", 100L) else ("C", 25L)
    // exact membership replicated driver-side from the documented keep-rule
    def expect(th: Long => Long): Set[Long] =
      (0L until 525L).filter(id => Sampling.hash60Jvm(id.toString, "t") % g < th(domOf(id)._2)).toSet
    val sqrtKept = kept(0.2, Sampling.Temperature.Sqrt)
    assert(sqrtKept == expect(
      n => math.min(g.toLong, math.floor(2000.0 * math.sqrt(400.0 / n)).toLong)))
    val uniKept = kept(0.2, Sampling.Temperature.Uniform)
    assert(uniKept == expect(
      n => math.min(g.toLong, math.floor(2000.0 * (400.0 / n)).toLong)))
    // uniform temperature at this rate keeps ALL of the smallest domain
    // (threshold 2000·16 caps at the full grid)
    assert((500L until 525L).toSet.subsetOf(uniKept))
    assert(kept(0.2, Sampling.Temperature.Proportional) == expect(_ => 2000L))
    // nested: lowering the anchor rate only removes rows, never swaps them
    assert(kept(0.1, Sampling.Temperature.Sqrt).subsetOf(sqrtKept))
  }

  test("calibrateScores: integer ppm percent ranks per source, ties by id, singleton = 1e6") {
    val df = Seq(
      ("s1", 10L, 1L), ("s1", 20L, 2L), ("s1", 20L, 3L), ("s1", 30L, 4L), ("s1", 40L, 5L),
      ("s2", 7L, 6L)).toDF("source", "score", "id")
    val got = Curation.calibrateScores(df, "source", "score", "id")
      .select("id", "cal_ppm").as[(Long, Long)].collect().toMap
    // s1 ranks 1..5 over (score, id): the tied 20s split by id; s2 is a
    // singleton and calibrates to the top of the grid
    assert(got == Map(1L -> 0L, 2L -> 250000L, 3L -> 500000L, 4L -> 750000L,
      5L -> 1000000L, 6L -> 1000000L), s"got $got")
    // partition-independence: the ppm grid is a property of the data
    val again = Curation.calibrateScores(df.repartition(7), "source", "score", "id")
      .select("id", "cal_ppm").as[(Long, Long)].collect().toMap
    assert(again == got)
  }
}

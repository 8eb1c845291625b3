package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for bench runs beyond the bundled testdata:
  * replicates every fact table `factor`× with per-replica key shifts, so
  * `GenScale in out 10` turns sf0.1 into an sf1-equivalent corpus.
  *
  * The replication is designed to preserve each query family's
  * per-row/per-pair workload CHARACTER, so per-query scaling ratios measure
  * the plans, not a data artifact:
  *
  *  - **Dims stay fixed** (region, nation) — as in TPC-H, scale grows facts.
  *  - **Keys shift** by replica × (max+1): PKs stay unique, FK joins keep
  *    the same per-replica fan-out, duplicate-key counts don't explode.
  *  - **Text gets a per-replica seeded letter permutation** (length-
  *    preserving bijective letter map): within-replica shingle/jaccard
  *    structure is EXACTLY the original's, while cross-replica shingles are
  *    disjoint — so near-dup pair counts scale linearly with replicas
  *    instead of quadratically (identical copies would put every doc in a
  *    `factor`-clique and inflate the dedup family superlinearly by
  *    construction).
  *  - **Embeddings get a per-replica coordinate permutation**: dot products
  *    are invariant under a common permutation, so each replica is an
  *    isometric copy of the corpus (same ANN neighbor structure), while
  *    differently-permuted replicas decorrelate.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val (inDir, outDir, factorStr) = args match {
      case Array(i, o, f) => (i, o, f)
      case _ =>
        System.err.println("usage: GenScale <inDir> <outDir> <factor>")
        sys.exit(2)
    }
    val factor = factorStr.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    // The per-replica text transform is a SEEDED LETTER PERMUTATION (26!
    // key space), so replicas stay pairwise distinct at any realistic
    // factor — the r1-r8 caesar rotation cycled at 26 and would collapse
    // later replicas into byte-identical text (cross-replica cliques →
    // quadratic near-dup scaling, exactly what the cipher exists to
    // prevent). A generous cap still guards runaway invocations.
    require(factor <= 1000, s"factor must be <= 1000, got $factor")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def in(t: String): DataFrame = spark.read.parquet(s"$inDir/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      System.err.println(s"[genscale] $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }
    /** max(key)+1 — the per-replica shift stride. */
    def stride(df: DataFrame, key: String): Long = {
      val row = df.agg(max(col(key).cast("long"))).head()
      require(!row.isNullAt(0), s"stride: column '$key' has no non-null values (empty input table?)")
      row.getLong(0) + 1L
    }

    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    /** Length-preserving per-replica LETTER PERMUTATION (identity at r=0):
      * a seeded Fisher-Yates shuffle of the alphabet per replica, applied
      * case-consistently via `translate`. Within a replica every document
      * is transformed by the same bijection, so shingle/jaccard/minhash
      * structure is EXACTLY the original's; distinct replicas use distinct
      * permutations (they differ on ~24 letters, so only an all-punctuation
      * document could ever collide across replicas — negligible), keeping
      * near-dup pair counts linear in the factor.
      */
    def letterPerm(c: org.apache.spark.sql.Column, r: Int): org.apache.spark.sql.Column =
      if (r == 0) c
      else {
        val perm = new scala.util.Random(9000 + r).shuffle(lower.toVector).mkString
        translate(c, lower + upper, perm + perm.toUpperCase)
      }

    // dims: fixed at every scale factor
    write("region", in("region"))
    write("nation", in("nation"))

    def replicate(t: String)(project: (DataFrame, Int) => DataFrame): Unit = {
      val src = in(t)
      write(t, (0 until factor).map(r => project(src, r)).reduce(_ unionAll _))
    }

    val custStride = stride(in("customer"), "c_custkey")
    val ordStride = stride(in("orders"), "o_orderkey")
    val partStride = stride(in("part"), "p_partkey")
    val suppStride = stride(in("supplier"), "s_suppkey")

    replicate("customer")((df, r) => df.withColumn(
      "c_custkey", col("c_custkey") + lit(r * custStride)))
    replicate("supplier")((df, r) => df.withColumn(
      "s_suppkey", col("s_suppkey") + lit(r * suppStride)))
    replicate("part")((df, r) => df.withColumn(
      "p_partkey", col("p_partkey") + lit(r * partStride)))
    replicate("orders")((df, r) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(r * ordStride))
      .withColumn("o_custkey", col("o_custkey") + lit(r * custStride)))
    replicate("lineitem")((df, r) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(r * ordStride))
      .withColumn("l_partkey", col("l_partkey") + lit(r * partStride))
      .withColumn("l_suppkey", col("l_suppkey") + lit(r * suppStride)))

    // events: normalize whatever physical ts encoding the input carries
    // (TIMESTAMP(MICROS) or raw INT64 nanos — Events.load sniffs) to plain
    // INT64 nanos on write, which Events.load reads back as the legacy
    // layout. Keeping the output in nanos preserves the fixed-point
    // arithmetic of the exact queries at any scale.
    val rawEvents = graft.sources.Events.load(spark, inDir)
      .select(col("event_id"), col("ts_ns").as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    val evStride = stride(rawEvents, "event_id")
    val userStride = stride(rawEvents, "user_id")
    write("events", (0 until factor).map(r => rawEvents
      .withColumn("event_id", col("event_id") + lit(r * evStride))
      .withColumn("user_id", col("user_id") + lit(r * userStride)))
      .reduce(_ unionAll _))

    val docStride = stride(in("documents"), "doc_id")
    replicate("documents")((df, r) => df
      .withColumn("doc_id", col("doc_id") + lit(r * docStride))
      .withColumn("text", letterPerm(col("text"), r)))

    val vecStride = stride(in("embeddings"), "vec_id")
    val dim = in("embeddings").select(size(col("embedding"))).head().getInt(0)
    val rnd = new scala.util.Random(42)
    val perms = Vector.fill(factor)(rnd.shuffle((0 until dim).toVector))
    replicate("embeddings")((df, r) => df
      .withColumn("vec_id", col("vec_id") + lit(r * vecStride))
      .withColumn("embedding",
        if (r == 0) col("embedding")
        else array(perms(r).map(i => col("embedding").getItem(i)): _*)))

    spark.stop()
    println(s"""{"scaled": $factor, "in": "$inDir", "out": "$outDir"}""")
  }
}

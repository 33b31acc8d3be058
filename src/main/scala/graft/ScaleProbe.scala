package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling-evidence harness: replicates the sf0.1 documents/embeddings
  * corpus ×m with per-replica perturbations that kill cross-replica
  * similarity (rotated alphabet for text, one flipped dimension for
  * vectors), then times the declared dedup/similarity queries on the
  * scaled corpus. Comparing m=1 vs m=10 timings shows which operators
  * scale ~linearly (the declared 100 TB paths: exact hash, minhash-LSH,
  * prefix-filtered ngram join, sign-LSH / IVF probes) versus the
  * quadratic all-pairs verify forms (simhash, embedding-cosine) — the
  * measured basis for BASELINE.md's scale framing.
  *
  * Usage: sbt "runMain graft.ScaleProbe <m> [query...]"        — corpus mode
  *        sbt "runMain graft.ScaleProbe tpch <m> [query...]"   — TPC-H mode
  *        sbt "runMain graft.ScaleProbe suite <m> [query...]"  — full suite
  *        sbt "runMain graft.ScaleProbe cooccur <m> [query...]" — disjoint co-order graphs
  *        sbt "runMain graft.ScaleProbe rotate <m> [query...]" — signed-permutation vectors
  *        sbt "runMain graft.ScaleProbe annrecall <m>"         — planted-pair ANN recall
  *        sbt "runMain graft.ScaleProbe bm25 <m> [nq...]"      — BM25 query-set sizes
  *        sbt "runMain graft.ScaleProbe containment [n...]"    — planted boilerplate docs
  * Every `query` is a declared `SparkEntry.queries` name; one that throws
  * is named in the JSON line's `failed` list, never timed. (tpch mode
  * replicates customer/orders/lineitem ×m with shifted key spaces —
  * m=10 on sf0.1 ≈ TPC-H sf1 — and times the q_tpch macros; suite mode
  * builds ALL ten tables at ×m and defaults to every declared query —
  * the whole-inventory scaling sweep; rotate defaults to the in-plan
  * width rule's dedup_embedding_ann_auto and sim_knn_graph_auto.)
  */
object ScaleProbe {

  private val alpha = "abcdefghijklmnopqrstuvwxyz"

  /** Per-replica character rotation: replica 0 is the identity; others
    * share no words (hence no shingles/tokens) with any other replica.
    */
  private def rot(i: Int): String = {
    val k = (i * 7) % 26
    alpha.drop(k) + alpha.take(k)
  }

  private def replicateDocs(spark: SparkSession, src: String, out: String, m: Int): Unit = {
    val docs = Tables.load(spark, src, "documents")
    (0 until m).map { i =>
      // replicas 1–25: rotated alphabet (vocabulary disjoint from every
      // other rotation). Replicas ≥26 — where rotations would repeat and
      // silently create exact dups — suffix every token with a replica
      // tag instead: still zero shared vocabulary with ANY other replica
      // (rotations yield pure-letter tokens; suffixed tokens embed
      // digits), so text probes scale past ×26.
      val text =
        if (i == 0) col("text")
        else if (i < 26) translate(col("text"), alpha, rot(i))
        else regexp_replace(col("text"), "(\\S+)", s"$$1${i}z")
      docs.select(
        (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_.unionByName(_))
      .repartition(math.max(4, m))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  // Per-replica deterministic ±1 sign pattern: within a replica every
  // vector flips the SAME dims, so all within-replica dot products —
  // hence cosines — are preserved exactly; across replicas ~half the
  // ℓ2 mass lands on disagreeing signs, so cross-replica cosine
  // concentrates near 0 (≪ CosineTau). The earlier flip-one-dim
  // perturbation left cross-replica cosine ≈ 0.9, which made the TRUE
  // pair set grow quadratically in m — a fixture artifact that buried
  // the operator's linear shape.
  private def replicateVecs(spark: SparkSession, src: String, out: String, m: Int): Unit = {
    val vecs = Tables.load(spark, src, "embeddings")
    (0 until m).map { i =>
      vecs.select(
        (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
        (if (i == 0) col("embedding")
         else expr(
           s"transform(embedding, (x, j) -> CASE WHEN pmod(hash($i * 64 + j), 2) = 0 THEN -x ELSE x END)"))
          .as("embedding"),
        col("label"))
    }.reduce(_.unionByName(_))
      .repartition(math.max(4, m))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** Signed-permutation vector replication (`rotate` mode corpora) —
    * the follow-up to the round-16 finding that sign-flip-only
    * perturbation leaves cross-replica sign-LSH projections
    * 0.5-correlated (two replicas of one base vector share half the
    * flip pattern), which manufactures C(m,2)·(2/3)^bits candidate
    * mass and buried the width rule's ×52 trajectory under a fixture
    * artifact. Each replica i applies v'_j = s(i,j) · v[p_i(j)] with
    * p_i(j) = (a_i·j + b_i) mod Dim (a_i odd AND Dim a power of two
    * ⇒ gcd(a_i, Dim) = 1 ⇒ bijective — required below) and s = ±1
    * from the same hash family:
    *  - WITHIN a replica this is one orthogonal transform — all dot
    *    products, norms, and cosines are preserved EXACTLY (same
    *    permutation and signs on both sides of every pair), so the
    *    true near-dup structure replicates bit-for-bit;
    *  - ACROSS replicas a hyperplane h sees (P_sᵀh)·v vs h·v —
    *    correlation (hᵀP_s h)/|h|² ≈ 0 for a random signed
    *    permutation, so bucket collisions decay at the ideal 1/2 per
    *    bit instead of 2/3 — the probe measures the OPERATOR, not the
    *    harness.
    */
  // Parameter family (round-18 revision, the two round-17 advice
  // items): p_i is bijective because a_i is odd AND Dim is a power of
  // two (gcd(odd, 2^s) = 1 — for a non-power-of-two Dim odd a would
  // NOT suffice, hence the require below, which also guards the exact
  // within-replica dot-product invariance the probe depends on). The
  // (a, b) pair is the EXPLICIT enumeration i = q·(d/2) + r →
  // (2r + 1, q mod d): provably distinct affine maps for all
  // i < d²/2 (2048 at Dim=64 — the require(m) wall), where the old
  // multiplier-hash family silently repeated with period d (replicas
  // i and i+64 would get the SAME permutation, leaving only sign
  // flips — exactly the 0.5-correlated regime the round-16 artifact
  // came from). Corpora regenerate under this family; same-table
  // trajectories must compare within one family generation.
  /** Deterministic 64-bit mix (splitmix64 finalizer) — the permutation
    * source below; any fixed bijective mixer works, this one is public
    * domain (Vigna).
    */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Replica-i coordinate permutation: HASH-RANK, not affine (round-18
    * revision 2). The affine family p(j) = (a·j+b) mod d — even with
    * provably distinct (a,b) per replica — preserves the arithmetic
    * structure of Z_d (parity classes, cosets, fixed points at b=0),
    * and the ×104 composition probe measured exactly that failure:
    * the hottest masked buckets held residents from ALL 104 replicas
    * (~12–26 per replica, norms ~1), i.e. one base cluster mapping to
    * the SAME bucket under every affine transform. Sorting the
    * coordinates by a per-replica hash gives a near-uniform random
    * permutation (bijective by construction — it is a sort rank),
    * destroying cross-replica structural alignment while keeping the
    * within-replica orthogonal-transform exactness unchanged.
    */
  private def hashPerm(i: Int, d: Int): IndexedSeq[Int] =
    (0 until d).sortBy(j => mix64(i.toLong * d + j))

  private def replicateVecsRotated(spark: SparkSession, src: String,
      out: String, m: Int): Unit = {
    val vecs = Tables.load(spark, src, "embeddings")
    val d = queries.AnnQueries.Dim
    (0 until m).map { i =>
      val p = hashPerm(i, d)
      // literal per-coordinate terms: sign from the same hash family as
      // before, source coordinate from the hash-rank permutation
      val terms = (0 until d).map { j =>
        s"""CAST(CASE WHEN pmod(hash($i * $d + $j), 2) = 0
                 THEN -1.0 ELSE 1.0 END AS FLOAT)
            * embedding[${p(j)}]"""
      }
      vecs.select(
        (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
        (if (i == 0) col("embedding")
         else expr(terms.mkString("array(", ",\n", ")")))
          .as("embedding"),
        col("label"))
    }.reduce(_.unionByName(_))
      .repartition(math.max(4, m))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  def scaleRotate(spark: SparkSession, src: String, out: String, m: Int): Unit = {
    val fs = new java.io.File(out)
    if (new java.io.File(fs, "_DONE").exists()) return
    fs.mkdirs()
    replicateVecsRotated(spark, src, out, m)
    new java.io.File(fs, "_DONE").createNewFile()
    ()
  }

  /** events ×m with disjoint event_id/user_id key spaces per replica and
    * UNCHANGED event time: volume grows m× while the time horizon (what
    * watermarks and windows key on) stays fixed — a busier topic, not a
    * longer one. The raw `ts` column passes through untouched in the
    * fixture's own annotation (int64 nanos or TIMESTAMP_NTZ µs, by
    * driver edition) so the scaled file reads through the same
    * edition-dispatching `Tables.loadEvents` normalization as the
    * fixture itself.
    */
  private def replicateEvents(spark: SparkSession, src: String, out: String, m: Int): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$src/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    (0 until m).map { i =>
      raw.select(
        (col("event_id") + lit(i.toLong * 1000000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i.toLong * 1000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_.unionByName(_))
      .repartition(math.max(4, m))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  private def copyTables(spark: SparkSession, src: String, out: String,
      names: Seq[String]): Unit =
    names.foreach { name =>
      Tables.load(spark, src, name)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }

  def scaleCorpus(spark: SparkSession, src: String, out: String, m: Int): Unit = {
    val fs = new java.io.File(out)
    if (new java.io.File(fs, "_DONE").exists()) return
    fs.mkdirs()
    replicateDocs(spark, src, out, m)
    replicateVecs(spark, src, out, m)
    new java.io.File(fs, "_DONE").createNewFile()
    ()
  }

  val scalePath: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_simhash_banded", "dedup_embedding_ann",
    "dedup_cluster_cc", "pipe_curate_cc",
    "sim_lsh_topk", "sim_ivf_topk", "sim_brute_topk",
    "text_tokens", "text_fingerprint", "text_ngram_freq")
  val allPairs: Seq[String] = Seq("dedup_simhash", "dedup_embedding_cosine")

  // ── TPC-H macro scaling (`tpch` mode) ────────────────────────────────
  // Replicates the transactional tables ×m with disjoint key spaces —
  // customer/orders/lineitem all shift together so every join finds its
  // row in the same replica — while the dims (nation/region/supplier/
  // part) keep their real-world shape: small and broadcastable. m=10 on
  // sf0.1 ≈ TPC-H sf1 (6M lineitem rows); the point is to show the
  // macros' plan shape (broadcast dims, partial aggs, top-k without a
  // full sort) holds when the fact side grows 10×.
  val KeyOff = 100000000L

  val tpchQueries: Seq[String] = Seq(
    "q_tpch01", "q_tpch02", "q_tpch03", "q_tpch04", "q_tpch05",
    "q_tpch06", "q_tpch07", "q_tpch08", "q_tpch09", "q_tpch10",
    "q_tpch11", "q_tpch12", "q_tpch13", "q_tpch14", "q_tpch15",
    "q_tpch16", "q_tpch17", "q_tpch18", "q_tpch19", "q_tpch20",
    "q_tpch21", "q_tpch22")

  def scaleTpch(spark: SparkSession, src: String, out: String, m: Int): Unit = {
    val fs = new java.io.File(out)
    if (new java.io.File(fs, "_DONE").exists()) return
    fs.mkdirs()

    replicateTpchFacts(spark, src, out, m)
    copyTables(spark, src, out, Seq("nation", "region", "supplier", "part"))
    new java.io.File(fs, "_DONE").createNewFile()
    ()
  }

  private def replicateTpchFacts(spark: SparkSession, src: String, out: String, m: Int): Unit = {
    def replicate(name: String, keys: Seq[String]): Unit = {
      val t = Tables.load(spark, src, name)
      (0 until m).map { i =>
        keys.foldLeft(t) { (df, k) =>
          df.withColumn(k, col(k) + lit(i.toLong * KeyOff))
        }
      }.reduce(_.unionByName(_))
        .repartition(math.max(8, m * 4))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    replicate("lineitem", Seq("l_orderkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("customer", Seq("c_custkey"))
  }

  // ── wide-ANN recall at scale (`annrecall` mode) ──────────────────────
  // Plants KNOWN near-dup pairs into the ×m vector corpus and measures
  // how many the width-scaled sign-LSH dedup recovers at the production
  // configuration (radius 1, 8 tables, τ=0.9, bits = ceil(log2 n)).
  // Twins perturb each sampled vector by ±20% per dimension (deterministic
  // sign from hash(vec_id, dim)), which pins the planted cosine into
  // [sqrt(0.96), 1.0] — analytically: cos = (1+0.2t)/sqrt(1.04+0.4t) over
  // sign-mass imbalance t ∈ [-1,1] has its minimum sqrt(0.96) ≈ 0.9798 at
  // t = -0.2 (ScaleProbeSpec pins the floor) — so every planted pair IS a
  // τ=0.9 true pair, and recall = found-planted / planted needs no
  // all-pairs oracle pass (which is exactly what's intractable at ×26).
  val PlantEvery = 10L // sample 1 in 10 vectors for twinning
  val PlantOff = 1000000000L // twin id offset, beyond any replica's id space

  def scaleAnnRecall(spark: SparkSession, src: String, out: String, m: Int): Unit = {
    val fs = new java.io.File(out)
    if (new java.io.File(fs, "_DONE").exists()) return
    fs.mkdirs()
    replicateVecs(spark, src, s"$out/base", m)
    val base = spark.read.parquet(s"$out/base/embeddings.parquet")
    val twins = base.filter(pmod(col("vec_id"), lit(PlantEvery)) === 0)
      .select(
        (col("vec_id") + lit(PlantOff)).as("vec_id"),
        // perturbation is seeded by the ORIGINAL vec_id (input column
        // scope), so the corpus is bit-reproducible across builds
        expr("""transform(embedding, (x, j) ->
             cast(x * (1.0 + CASE WHEN pmod(hash(vec_id * 64 + j), 2) = 0
                               THEN 0.2 ELSE -0.2 END) as float))""").as("embedding"),
        col("label"))
    base.unionByName(twins)
      .repartition(math.max(4, m))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    new java.io.File(fs, "_DONE").createNewFile()
    ()
  }

  /** Adversarial containment scaling (`containment` mode): the sf0.1
    * corpus plus n planted boilerplate docs that ALL share one
    * DupK-token block (df = n ≫ ContainDfCap) plus a unique tail.
    * Without the df-cap that single shingle would put C(n,2) pairs
    * through the candidate join (~5·10⁷ at n=10⁴); with it the planted
    * group contributes ZERO candidates, so wall time must stay flat in
    * n (the ContainmentAdversarialSpec pins the same structure exactly
    * at the cap boundary on a planted micro-corpus).
    */
  private def containmentProbe(spark: SparkSession, ns: Seq[Int], runs: Int): Unit = {
    val block = (0 until queries.Round10Queries.DupK).map(i => s"boil$i").mkString(" ")
    val results = ns.map { n =>
      val dir = s"/tmp/graft_contain_n$n"
      val fs = new java.io.File(dir)
      if (!new java.io.File(fs, "_DONE").exists()) {
        fs.mkdirs()
        val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")
        val txt = concat(lit(block + " zz"), col("id").cast("string"))
        val planted = spark.range(n)
          .select((col("id") + 90000000L).as("doc_id"), txt.as("text"),
            lit("xx").as("lang"), lit("gen").as("source"),
            length(txt).cast("long").as("n_chars"))
        base.unionByName(planted).repartition(8)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        new java.io.File(fs, "_DONE").createNewFile()
      }
      val timings = (1 to math.max(1, runs)).map { _ =>
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries("dedup_containment")(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (dt, rows)
      }
      s""""n$n":{"sec":${timings.map(_._1).min},"rows":${timings.last._2}}"""
    }
    println(s"""{"metric":"containment_adversarial",""" +
      s""""queries":${results.mkString("{", ",", "}")}}""")
  }

  /** BM25 query-set scaling (`bm25` mode): time bm25TopK over synthetic
    * query sets of growing |q| on the ×m corpus, reporting the matched-
    * postings volume alongside — the claim under test (VERDICT r10 item
    * 4) is that cost tracks MATCHING POSTINGS, not |q| directly: the
    * postings shuffle carries only query-matched tokens, and the top-k
    * window partitions by query_id (parallelism grows WITH |q|).
    */
  private def bm25Probe(spark: SparkSession, m: Int, nqs: Seq[Int], runs: Int): Unit = {
    val dir = s"/tmp/graft_scale_x$m"
    scaleCorpus(spark, "/root/testdata/sf0.1", dir, m)
    val results = nqs.map { nq =>
      val q = queries.RetrievalQueries.syntheticBmQueries(spark, dir, nq)
        .localCheckpoint()
      // the one shuffle's payload: corpus postings matching a query term
      val postings = Tables.load(spark, dir, "documents")
        .select(explode(queries.Corpus.tokens(col("text"))).as("tok"))
        .join(q.select("tok").distinct(), "tok").count()
      val timings = (1 to math.max(1, runs)).map { _ =>
        val t0 = System.nanoTime()
        val n = queries.RetrievalQueries.bm25TopK(spark, dir, q).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (dt, n)
      }
      s""""q$nq":{"sec":${timings.map(_._1).min},"rows":${timings.last._2},"postings":$postings}"""
    }
    println(s"""{"metric":"bm25_scaling","multiplier":$m,""" +
      s""""queries":${results.mkString("{", ",", "}")}}""")
  }

  private def annRecallProbe(spark: SparkSession, m: Int, runs: Int): Unit = {
    val dir = s"/tmp/graft_annrecall_x$m"
    scaleAnnRecall(spark, "/root/testdata/sf0.1", dir, m)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = vecs.count()
    val planted = vecs.filter(col("vec_id") >= PlantOff).count()
    // the rule under test: bits ~ log2(n) holds bucket load ~1
    val bits = math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt
    val timings = (1 to math.max(1, runs)).map { _ =>
      val t0 = System.nanoTime()
      val res = queries.DedupQueries.embeddingAnnScaled(spark, dir, bits)
      // a planted pair is (id, id + PlantOff) with id in the sample
      val found = res
        .filter(col("vec_b") - col("vec_a") === PlantOff &&
          pmod(col("vec_a"), lit(PlantEvery)) === 0)
        .count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      (dt, found)
    }
    val found = timings.last._2
    val recall = if (planted == 0) 0.0 else found.toDouble / planted
    println(s"""{"metric":"ann_recall","multiplier":$m,"vectors":$n,"bits":$bits,""" +
      s""""tau":0.9,"radius":1,"tables":8,"planted":$planted,"found":$found,""" +
      s""""recall":$recall,"sec":${timings.map(_._1).min}}""")
  }

  /** `cooccur` mode corpus: m DISJOINT copies of the co-order graphs —
    * lineitem replicated with l_orderkey, l_partkey AND l_suppkey all
    * shifted, so each replica's parts/suppliers co-occur only within
    * their own replica. This is the honest scaling fixture for
    * graph_triangles: a growing corpus grows the part catalogue with
    * it, so the graph grows at CONSTANT average degree (n and m both
    * ×m) — linear trajectory expected. Suite-mode replication keeps the
    * part key space fixed, so the co-order graph DENSIFIES toward
    * complete under ×m (wedges ∝ m²) — that slope would measure the
    * fixture artifact, not the operator.
    */
  def scaleCooccur(spark: SparkSession, src: String, out: String, m: Int): Unit = {
    val fs = new java.io.File(out)
    if (new java.io.File(fs, "_DONE").exists()) return
    fs.mkdirs()
    val t = Tables.load(spark, src, "lineitem")
    (0 until m).map { i =>
      Seq("l_orderkey", "l_partkey", "l_suppkey").foldLeft(t) { (df, k) =>
        df.withColumn(k, col(k) + lit(i.toLong * KeyOff))
      }
    }.reduce(_.unionByName(_))
      .repartition(math.max(8, m * 4))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    new java.io.File(fs, "_DONE").createNewFile()
    ()
  }

  /** `suite` mode corpus: ALL ten fixture tables at ×m in one directory,
    * so every declared query (not just the dedup/similarity/TPC-H
    * subsets) can run on a scaled corpus. Facts replicate with disjoint
    * key spaces (documents/embeddings perturbed, lineitem/orders/customer
    * key-shifted, events id-shifted at fixed event time); the dims keep
    * their real-world shape — small and broadcastable.
    */
  def scaleSuite(spark: SparkSession, src: String, out: String, m: Int): Unit = {
    val fs = new java.io.File(out)
    if (new java.io.File(fs, "_DONE").exists()) return
    fs.mkdirs()
    replicateDocs(spark, src, out, m)
    replicateVecs(spark, src, out, m)
    replicateTpchFacts(spark, src, out, m)
    replicateEvents(spark, src, out, m)
    copyTables(spark, src, out, Seq("nation", "region", "supplier", "part"))
    new java.io.File(fs, "_DONE").createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption match {
      case Some("tpch") => "tpch"
      case Some("suite") => "suite"
      case Some("cooccur") => "cooccur"
      case Some("rotate") => "rotate"
      case Some("annrecall") => "annrecall"
      case Some("bm25") => "bm25"
      case Some("containment") => "containment"
      case _ => "corpus"
    }
    val rest = if (mode == "corpus") args else args.drop(1)
    val m = rest.headOption.map(_.toInt).getOrElse(10)
    // min-of-N like Bench (shared-box contention only ever ADDS time);
    // defaults to 1 because probe corpora are long sweeps
    val runs = Env.intVar("SPARK_GRAFT_PROBE_RUNS", 1)
    // document replication stays collision-free at ANY m: replicas 1–25
    // rotate the alphabet, replicas ≥26 suffix every token with a
    // replica tag (see replicateDocs) — no two replicas ever share a
    // word, so the probe never degenerates into a duplicate explosion.
    val spark = SessionProfile.session()
    if (mode == "bm25" || mode == "containment") {
      if (mode == "bm25") {
        val nqs = if (rest.length > 1) rest.drop(1).toSeq.map(_.toInt)
          else Seq(5, 50, 1000)
        bm25Probe(spark, m, nqs, runs)
      } else {
        // containment mode: args are the planted-boilerplate doc counts
        val ns = if (rest.nonEmpty) rest.toSeq.map(_.toInt)
          else Seq(1000, 10000)
        containmentProbe(spark, ns, runs)
      }
      spark.stop()
      return
    }
    if (mode == "annrecall") {
      annRecallProbe(spark, m, runs)
      spark.stop()
      return
    }
    val names = if (rest.length > 1) rest.drop(1).toSeq
      else mode match {
        case "tpch" => tpchQueries
        // suite: EVERY declared query on the full ×m corpus — the
        // whole-inventory scaling sweep (VERDICT r7 item 4)
        case "suite" => SparkEntry.queries.keys.toSeq.sorted
        case "cooccur" => Seq("graph_triangles")
        // rotate: the in-plan width rule's ANN dedup and kNN graph on
        // the artifact-free corpus
        case "rotate" => Seq("dedup_embedding_ann_auto", "sim_knn_graph_auto")
        case _ => if (m <= 3) scalePath ++ allPairs else scalePath
      }
    val dir = mode match {
      case "tpch" => s"/tmp/graft_tpch_x$m"
      case "suite" => s"/tmp/graft_suite_x$m"
      case "cooccur" => s"/tmp/graft_cooccur_x$m"
      case "rotate" => s"/tmp/graft_rot_x$m"
      case _ => s"/tmp/graft_scale_x$m"
    }
    mode match {
      case "tpch" => scaleTpch(spark, "/root/testdata/sf0.1", dir, m)
      case "suite" => scaleSuite(spark, "/root/testdata/sf0.1", dir, m)
      case "cooccur" => scaleCooccur(spark, "/root/testdata/sf0.1", dir, m)
      case "rotate" => scaleRotate(spark, "/root/testdata/sf0.1", dir, m)
      case _ => scaleCorpus(spark, "/root/testdata/sf0.1", dir, m)
    }

    // warm up codegen/scan paths with the first named row, so the
    // first row timed does not carry its family's JIT warm-up; a failure
    // here is reported, and the same query fails again (and is named in
    // `failed`) if it is timed
    val warmup = if (rest.length > 1) names.head else mode match {
      case "tpch" => "q_tpch03"
      case "cooccur" => "graph_triangles"
      case "rotate" => "sim_brute_topk"
      case _ => "dedup_exact"
    }
    try SparkEntry.queries(warmup)(spark, dir).count()
    catch { case e: Throwable =>
      System.err.println(s"[scale_probe] warm-up $warmup failed: $e")
    }

    // A query that throws is FAILED, not fast: it goes to the `failed`
    // list with no timing and is not re-run.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = names.flatMap { name =>
      def once(): Option[(Double, Long)] = {
        val t0 = System.nanoTime()
        try {
          val n = SparkEntry.queries(name)(spark, dir).count()
          Some(((System.nanoTime() - t0) / 1e9, n))
        } catch { case e: Throwable =>
          System.err.println(s"[scale_probe] $name failed: ${e.getMessage}")
          None
        } finally spark.catalog.clearCache()
      }
      val timings = Iterator.continually(once()).take(math.max(1, runs))
        .takeWhile(_.isDefined).flatten.toSeq
      if (timings.size == math.max(1, runs))
        Some((name, timings.map(_._1).min, timings.last._2))
      else { failed += name; None }
    }
    val qs = results.map { case (k, v, n) =>
      s""""$k":{"sec":$v,"rows":$n}""" }.mkString("{", ",", "}")
    val failedJson = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    println(s"""{"metric":"scale_probe","mode":"$mode","multiplier":$m,"failed":$failedJson,"queries":$qs}""")
    spark.stop()
  }
}

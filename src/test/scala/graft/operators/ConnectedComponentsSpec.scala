package graft.operators

import scala.util.Random

import graft.SparkSpec

/** Property tests for min-label-propagation connected components against a
  * driver-side union-find ground truth.
  */
class ConnectedComponentsSpec extends SparkSpec {

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical label = min member id of each component
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }
  }

  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.run(edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain, triangle, star, and singleton-pair components resolve to min-id labels") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),          // chain: all -> 1
      (10L, 11L), (11L, 12L), (12L, 10L),    // triangle: all -> 10
      (20L, 21L), (20L, 22L), (20L, 23L),    // star: all -> 20
      (30L, 31L))                            // pair: both -> 30
    assert(ccOf(edges) == unionFind(edges))
  }

  test("random graphs match union-find ground truth") {
    val rnd = new Random(7)
    (1 to 3).foreach { _ =>
      val n = 60
      val edges = (1 to 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      assert(ccOf(edges) == unionFind(edges))
    }
  }

  test("duplicate and reversed edges don't change the result") {
    val base = Seq((1L, 2L), (2L, 3L))
    val noisy = base ++ base.map(_.swap) ++ base
    assert(ccOf(noisy) == unionFind(base))
  }

  test("long chain converges within the diameter bound") {
    val edges = (0L until 20L).map(i => (i, i + 1))
    val got = ccOf(edges)
    assert(got.values.toSet == Set(0L))
    assert(got.size == 21)
  }

  test("empty edge set yields an empty labelling (no NPE in the convergence check)") {
    import spark.implicits._
    val out = ConnectedComponents.run(Seq.empty[(Long, Long)].toDF("u", "v"))
    assert(out.collect().isEmpty)
  }

  test("self-loops alone still label each node with itself") {
    val out = ccOf(Seq((5L, 5L), (9L, 9L)))
    assert(out == Map(5L -> 5L, 9L -> 9L))
  }

  test("reliable-checkpoint variant produces identical labels and writes per-round checkpoints") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),          // chain (diameter 3 → multiple rounds)
      (10L, 11L), (11L, 12L), (12L, 10L),
      (30L, 31L))
    val got = ConnectedComponents.run(edges.toDF("u", "v"),
        checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges))
    // the rounds must actually have cut over to reliable storage — and
    // superseded rounds must have been deleted as the loop advanced, so
    // exactly ONE rdd-* tree remains: the one backing the returned labels
    val ckpts = new java.io.File(dir).listFiles()
    assert(ckpts != null && ckpts.nonEmpty, s"no checkpoint data under $dir")
    val rdds = ckpts.flatMap(d =>
      Option(d.listFiles()).getOrElse(Array.empty).filter(_.getName.startsWith("rdd-")))
    assert(rdds.length == 1,
      s"expected exactly the final round's rdd-* tree, got ${rdds.toSeq}")
  }

  test("an application-configured checkpoint dir is not clobbered by the checkpointDir arg") {
    import spark.implicits._
    val appDir = java.nio.file.Files.createTempDirectory("graft_cc_app").toString
    val argDir = java.nio.file.Files.createTempDirectory("graft_cc_arg").toString
    val sc = spark.sparkContext
    val before = sc.getCheckpointDir
    try {
      sc.setCheckpointDir(appDir)
      val configured = sc.getCheckpointDir
      val got = ConnectedComponents.run(Seq((1L, 2L), (2L, 3L)).toDF("u", "v"),
          checkpointDir = Some(argDir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      // session config wins: dir unchanged, rounds landed under appDir
      assert(sc.getCheckpointDir == configured)
      assert(Option(new java.io.File(argDir).listFiles()).forall(_.isEmpty),
        "arg dir must be untouched when the session already has one")
    } finally
      // restore whatever the suite had (usually unset → point at a temp)
      before.foreach(sc.setCheckpointDir)
  }
}

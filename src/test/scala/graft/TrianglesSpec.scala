package graft

import graft.ext.Triangles
import org.apache.spark.sql.functions._

/** Triangle enumeration / clustering / k-core semantics and the
  * co-activity edge builder, against hand-checkable fixtures and
  * in-memory models. Fuzzy ER lives in [[EntityResolutionSpec]]. */
class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def tri(edges: Seq[(Long, Long)]): Seq[(Long, Long, Long)] =
    Triangles.triangles(edges.toDF("src", "dst"), "src", "dst")
      .orderBy("a", "b", "c")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("K4 yields its four triangles exactly once each") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(tri(k4) == Seq((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L),
      (2L, 3L, 4L)))
  }

  test("stars and paths have no triangles") {
    assert(tri(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))).isEmpty)
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))).isEmpty)
  }

  test("duplicate, reversed, and self-loop edges are normalized away") {
    val noisy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 2L))
    assert(tri(noisy) == Seq((1L, 2L, 3L)))
  }

  test("random graphs match a brute-force model") {
    val rnd = new scala.util.Random(12L)
    val edges = Seq.fill(60)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
    val adj = edges.collect { case (u, v) if u != v => Set(u, v) }.toSet
    val nodes = adj.flatten.toSeq.sorted
    val want = for {
      (a, i) <- nodes.zipWithIndex
      b <- nodes.drop(i + 1) if adj(Set(a, b))
      c <- nodes.dropWhile(_ <= b) if adj(Set(a, c)) && adj(Set(b, c))
    } yield (a, b, c)
    assert(tri(edges) == want)
  }

  test("clustering coefficients match an in-memory model") {
    val rnd = new scala.util.Random(7L)
    val edges = Seq.fill(70)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
    val es = edges.collect { case (u, v) if u != v =>
      (math.min(u, v), math.max(u, v)) }.distinct
    val adj = es.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = adj.map { case (n, nbrs) =>
      val d = nbrs.size.toLong
      val tri = nbrs.toSeq.combinations(2)
        .count { case Seq(x, y) => adj(x)(y) }.toLong
      (n, (d, tri,
        if (d >= 2) Some((20000L * tri) / (d * (d - 1))) else None))
    }
    val got = Triangles.clusteringCoefficients(
        edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(got == want)
  }

  test("kCore matches an in-memory peeling model on random graphs") {
    val rnd = new scala.util.Random(31L)
    val edges = Seq.fill(80)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
    def model(k: Int): Map[Long, Long] = {
      var es = edges.collect { case (u, v) if u != v =>
        (math.min(u, v), math.max(u, v)) }.distinct
      var changed = true
      while (changed) {
        val deg = es.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val drop = deg.filter(_._2 < k).keySet
        changed = drop.nonEmpty
        es = es.filter(e => !drop(e._1) && !drop(e._2))
      }
      es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
    }
    for (k <- Seq(2, 4, 6)) {
      val got = Triangles.kCore(edges.toDF("src", "dst"), "src", "dst", k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == model(k), s"k=$k")
    }
  }

  test("kCore refuses loudly when the round budget is too small") {
    // a path graph peels one node-pair layer per round under k=2
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Triangles.kCore(path, "src", "dst", k = 2, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("unpersistAll releases kCore's and connectedComponents' checkpoints") {
    val sc = spark.sparkContext
    def cached(): Set[Int] = sc.getRDDStorageInfo.map(_.id).toSet
    graft.ext.Dedup.unpersistAll(blocking = true)
    val before = cached()
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("src", "dst")
    // converging: the answer is the final round's checkpoint
    val core = Triangles.kCore(k4, "src", "dst", k = 3)
    assert(core.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // over budget: the failed run's rounds stay checkpointed
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      Triangles.kCore(path, "src", "dst", k = 2, maxRounds = 2).collect()
    }
    val comps = graft.ext.Components.connectedComponents(path)
    assert(comps.select("comp").distinct().collect().map(_.getLong(0))
      .toSeq == Seq(1L))
    assert((cached() -- before).nonEmpty, "the operators cached nothing")
    graft.ext.Dedup.unpersistAll(blocking = true)
    assert((cached() -- before).isEmpty,
      s"blocks left after unpersistAll: ${cached() -- before}")
  }

  private def emptyEvents = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType))))

  private def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The co-activity edges computed in memory: collect the events, bucket
    * them by minute, emit every id-ordered pair within a bucket. */
  private def coActivityModel(
      ev: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    ev.collect().toSeq
      .map(r => (r.getTimestamp(1).getTime / 60000L, r.getLong(0)))
      .groupBy(_._1).values
      .flatMap { g =>
        val users = g.map(_._2).distinct.sorted
        for (i <- users.indices; j <- (i + 1) until users.size)
          yield (users(i), users(j))
      }.toSet

  private def randomEvents(seed: Long, n: Int, users: Int, minutes: Int) = {
    val rnd = new scala.util.Random(seed)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    Seq.fill(n)((rnd.nextInt(users).toLong + 1L,
        new java.sql.Timestamp(base + rnd.nextInt(minutes * 60) * 1000L)))
      .toDF("user_id", "ts")
  }

  test("coActivityEdges refuses an over-budget bucket loudly") {
    // maxTaskPairs = 1: one user per shard, so a bucket of 16 users is
    // the largest the 16-shard limit admits
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:30")
    def bucket(n: Long) = (1L to n).map(u => (u, ts)).toDF("user_id", "ts")
    assert(Triangles.coActivityEdges(bucket(16L), maxTaskPairs = 1L)
      .count() == 120L)
    val e = intercept[IllegalArgumentException] {
      Triangles.coActivityEdges(bucket(17L), maxTaskPairs = 1L).collect()
    }
    assert(e.getMessage.contains("largest bucket holds 17"))
  }

  test("coActivityEdges on an empty frame yields an empty edge list") {
    assert(Triangles.coActivityEdges(emptyEvents).count() == 0L)
    assert(Triangles.coActivityEdges(emptyEvents, minShards = 4)
      .count() == 0L)
  }

  test("co-activity edges equal an in-memory per-minute model at every minShards") {
    val ev = randomEvents(41L, 300, 25, 5)
    val want = coActivityModel(ev)
    assert(want.nonEmpty)
    // equivalence must hold at every shard count, including S=1 (no
    // split) and S larger than the user population
    for (s <- Seq(1, 2, 3, 7, 64))
      assert(canon(Triangles.coActivityEdges(ev, minShards = s)) == want,
        s"minShards=$s")
  }

  test("sharded co-activity guards on the per-task pair count") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.Prop.propBoolean
    val gen = for {
      m <- Gen.oneOf(Gen.choose(1L, 100L), Gen.choose(1L, 100000000L))
      worst <- Gen.oneOf(Gen.choose(0L, 300L), Gen.choose(0L, 200000L))
      minShards <- Gen.choose(1, 70)
    } yield (worst, minShards, m)
    // the model: search S upward for ⌈worst/S⌉² ≤ m
    def fits(worst: Long, m: Long)(s: Int): Boolean = {
      val per = (worst + s - 1) / s
      per * per <= m
    }
    val prop = Prop.forAll(gen) { case (worst, minShards, m) =>
      val got = scala.util.Try(Triangles.shardCount(worst, minShards, m))
      if ((1 to 16).exists(fits(worst, m)))
        (got.toOption ==
          Iterator.from(minShards).find(fits(worst, m))) :|
          s"worst=$worst minShards=$minShards m=$m got=$got"
      else
        got.failed.toOption.exists(_.isInstanceOf[IllegalArgumentException]) :|
          s"worst=$worst m=$m needs > 16 shards, got=$got"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(2000),
      prop)
    assert(res.passed, res)
    // the default envelope: 16 shards of ⌊√(5·10⁷)⌋ = 7 071 users
    assert(Triangles.shardCount(7071L, 1, 50000000L) == 1)
    assert(Triangles.shardCount(7072L, 1, 50000000L) == 2)
    assert(Triangles.shardCount(113136L, 1, 50000000L) == 16)
    intercept[IllegalArgumentException](
      Triangles.shardCount(113137L, 1, 50000000L))
  }

  test("coActivityEdges path: minShards = 3 runs the shard explode, same edges") {
    val ev = randomEvents(43L, 200, 20, 3)
    val want = coActivityModel(ev)
    val sharded = Triangles.coActivityEdges(ev, minShards = 3)
    assert(sharded.queryExecution.executedPlan.toString.contains("explode"),
      "minShards = 3 must run the shard-pair formulation")
    assert(canon(sharded) == want)
    assert(Triangles.coActivityEdges(emptyEvents, minShards = 3)
      .count() == 0L)
  }

}

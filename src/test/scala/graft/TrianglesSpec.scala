package graft

import graft.ext.Triangles
import org.apache.spark.sql.functions._

/** Triangle enumeration / clustering / k-core semantics and the
  * co-activity edge builders, against hand-checkable fixtures and
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

  test("coActivityEdges refuses an over-budget bucket loudly") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:30")
    val ev = (1L to 10L).map(u => (u, ts)).toDF("user_id", "ts")
    val e = intercept[IllegalArgumentException] {
      Triangles.coActivityEdges(ev, maxBucketUsers = 5L).collect()
    }
    assert(e.getMessage.contains("largest bucket holds 10"))
    assert(Triangles.coActivityEdges(ev, maxBucketUsers = 10L).count() == 45L)
  }

  test("coActivityEdges on an empty frame yields an empty edge list") {
    val ev = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType))))
    assert(Triangles.coActivityEdges(ev).count() == 0L)
    assert(Triangles.coActivityEdgesSharded(ev, shards = 4).count() == 0L)
  }

  test("sharded co-activity edges equal the single-reducer formulation") {
    val rnd = new scala.util.Random(41L)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val ev = Seq.fill(300)((rnd.nextInt(25).toLong + 1L,
        new java.sql.Timestamp(base + rnd.nextInt(5 * 60) * 1000L)))
      .toDF("user_id", "ts")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = canon(Triangles.coActivityEdges(ev))
    // equivalence must hold at every shard count, including S=1 (no
    // split) and S larger than the user population
    for (s <- Seq(1, 2, 3, 7, 64))
      assert(canon(Triangles.coActivityEdgesSharded(ev, shards = s)) == plain,
        s"shards=$s")
  }

  test("sharded co-activity guards on the per-task pair count") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:30")
    val ev = (1L to 100L).map(u => (u, ts)).toDF("user_id", "ts")
    val e = intercept[IllegalArgumentException] {
      Triangles.coActivityEdgesSharded(ev, shards = 2, maxTaskPairs = 100L)
        .collect()
    }
    assert(e.getMessage.contains("pairs per task"))
    assert(Triangles.coActivityEdgesSharded(ev, shards = 2,
      maxTaskPairs = 10000L).count() == 4950L)
  }

  test("coActivityEdgesAuto routes: plain under the cap, sharded over it") {
    val rnd = new scala.util.Random(43L)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val ev = Seq.fill(200)((rnd.nextInt(20).toLong + 1L,
        new java.sql.Timestamp(base + rnd.nextInt(3 * 60) * 1000L)))
      .toDF("user_id", "ts")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = canon(Triangles.coActivityEdges(ev))
    // under the cap: the routed plan is the single pair join (no shard
    // explode generator anywhere in it)
    val under = Triangles.coActivityEdgesAuto(ev, maxBucketUsers = 10000L)
    assert(!under.queryExecution.executedPlan.toString.contains("explode"),
      "under-cap arm must be the plain pair join")
    assert(canon(under) == plain)
    // over the cap (forced by a cap of 1): the routed plan carries the
    // shard-pair explode — the PATH assertion behind the
    // graph_triangles_sharded CORRECTNESS entry — and the edge set is
    // unchanged
    val over = Triangles.coActivityEdgesAuto(ev, maxBucketUsers = 1L,
      shards = 3)
    assert(over.queryExecution.executedPlan.toString.contains("explode"),
      "over-cap arm must be the sharded formulation")
    assert(canon(over) == plain)
    // an empty frame routes the plain arm and stays empty
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType))))
    assert(Triangles.coActivityEdgesAuto(empty, maxBucketUsers = 1L)
      .count() == 0L)
  }

}

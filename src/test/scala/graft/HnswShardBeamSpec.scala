package graft

import graft.vector._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** `efSearch` is the total beam across an index's shards: for `k > 0` each
  * shard searches `max(k, ceil(efSearch / nShards))` wide
  * ([[Hnsw.shardBeam]]), so per-query work follows the corpus and not the
  * shard count. At 6,000 rows shaped like the serving benchmark's corpus
  * (64 dims, 32 Gaussian clusters with spread 0.6, m 16, efConstruction
  * 40) this pins the distance evaluations per unfiltered query, recall@10
  * unfiltered and with a 30% [[IdSet]], embedded = distributed parity (also
  * for an index reloaded with [[Hnsw.read]]), recall at the default beam
  * on a correctness-scale [[Hnsw.build]] index, and that `k <= 0` keeps
  * the full beam in every shard. */
class HnswShardBeamSpec extends SparkSpec {

  private val n = 6000
  private val dim = 64
  private val k = 10

  private lazy val centres: Array[Array[Float]] = {
    val rnd = new java.util.Random(11)
    Array.fill(32)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  private def clustered(rnd: java.util.Random): Array[Float] = {
    val c = centres(rnd.nextInt(centres.length))
    Array.tabulate(dim)(j => c(j) + (0.6 * rnd.nextGaussian()).toFloat)
  }

  /** Doc i is id i. */
  private lazy val vecs: Array[Array[Float]] = {
    val rnd = new java.util.Random(12)
    Array.fill(n)(clustered(rnd))
  }

  private lazy val queries: Array[Array[Float]] = {
    val rnd = new java.util.Random(13)
    Array.fill(300)(clustered(rnd))
  }

  private lazy val data: DataFrame = {
    val s = spark
    import s.implicits._
    vecs.indices.map(i => (i.toLong, vecs(i))).toDF("id", "vector")
  }

  private lazy val indexes: Map[Int, Hnsw.Index] =
    Seq(4, 32).map(s => s -> Hnsw.buildRouted(data, s, m = 16,
      efConstruction = 40)).toMap

  private def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { val d = a(j).toDouble - b(j); s += d * d; j += 1 }
    s
  }

  /** Exact top-k ids of each query among `ids`, by (distance, id). */
  private def exact(ids: Seq[Int]): Array[Seq[Long]] = queries.map { q =>
    ids.map(i => (l2sq(vecs(i), q), i.toLong)).sorted.take(k).map(_._2)
  }

  private lazy val truth: Array[Seq[Long]] = exact(vecs.indices)

  /** About 30% of the ids: enough live members per shard at 4 shards
    * (about 450) for the filtered beam, too few at 32 (about 56), where
    * the exact small-set path scores them. */
  private lazy val sampled: Array[Long] = {
    val rnd = new scala.util.Random(14)
    (0L until n.toLong).filter(_ => rnd.nextDouble() < 0.3).toArray
  }

  private def recall(found: Int => Seq[Long], want: Array[Seq[Long]]): Double =
    queries.indices.map(i => found(i).toSet.intersect(want(i).toSet).size)
      .sum.toDouble / (queries.length * k)

  test("distance evaluations per unfiltered query: <= 1,000 at 4 shards, " +
       "<= 5,000 at 32 shards") {
    Seq(4 -> 1000.0, 32 -> 5000.0).foreach { case (shards, bound) =>
      val serving = Hnsw.serve(indexes(shards))
      val before = serving.distEvals
      queries.foreach(q => serving.search(q, k))
      val perQuery = (serving.distEvals - before).toDouble / queries.length
      assert(perQuery <= bound, s"$shards shards: $perQuery evaluations/query")
    }
  }

  test("recall@10 >= 0.99 at 4 and 32 shards") {
    Seq(4, 32).foreach { shards =>
      val serving = Hnsw.serve(indexes(shards))
      val r = recall(i => serving.search(queries(i), k).map(_._1), truth)
      assert(r >= 0.99, s"$shards shards: recall@10 $r")
    }
  }

  test("filtered recall@10 >= 0.99 with a 30% IdSet at 4 and 32 shards") {
    val set = IdSet(sampled)
    val want = exact(sampled.toSeq.map(_.toInt))
    Seq(4, 32).foreach { shards =>
      val serving = Hnsw.serve(indexes(shards))
      val r = recall(i => serving.search(queries(i), k, Hnsw.DefaultEfSearch, set)
        .map(_._1), want)
      assert(r >= 0.99, s"$shards shards: filtered recall@10 $r")
    }
  }

  /** Embedded search over `idx` equals [[Hnsw.searchIndex]] row for row at
    * k = 10 on 20 queries, unfiltered and with the 30% [[IdSet]]. */
  private def assertParity(idx: Hnsw.Index, what: String): Unit = {
    val s = spark
    import s.implicits._
    val qs = queries.take(20)
    val qdf = qs.indices.map(i => (i.toLong, qs(i))).toDF("qid", "qvec")
    val serving = Hnsw.serve(idx)
    Seq[(String, Long => Boolean, Option[DataFrame])](
      ("unfiltered", null, None), ("IdSet", IdSet(sampled), Some(sampled.toSeq.toDF("id")))
    ).foreach { case (filter, allowed, cands) =>
      val dist = Hnsw.searchIndex(idx, qdf, k, candidates = cands)
        .orderBy(col("qid"), col("score"), col("id")).collect()
        .groupBy(_.getLong(0))
        .map { case (qid, rs) => qid -> rs.toSeq.map(r => (r.getLong(1), r.getDouble(2))) }
      qs.indices.foreach { i =>
        val got = serving.search(qs(i), k, Hnsw.DefaultEfSearch, allowed)
        assert(got == dist.getOrElse(i.toLong, Seq.empty), s"$what, $filter, query $i")
      }
    }
  }

  test("embedded search equals searchIndex row for row at k = 10, " +
       "unfiltered and with an IdSet") {
    Seq(4, 32).foreach(shards => assertParity(indexes(shards), s"$shards shards"))
  }

  test("Hnsw.read restores one graph per persisted shard, so embedded equals " +
       "searchIndex when the files read into fewer partitions than shards") {
    val s = spark
    // a weakly linked graph (m 4, efConstruction 8), whose results depend
    // on the beam, so a shard count that differs between the two paths
    // shows in their results
    val weak = Hnsw.buildRouted(data, 32, m = 4, efConstruction = 8)
    val serving = Hnsw.serve(weak)
    assert(queries.take(20).exists(q => serving.search(q, k) != serving.search(q, k, 32 * 40)))
    val path = java.nio.file.Files.createTempDirectory("hnswbeamread")
      .resolve("idx").toString
    Hnsw.write(weak, path)
    // pack the 32 shard files into a few read partitions, as large shard
    // files or a session's default parallelism can
    val confs = Seq("spark.sql.files.maxPartitionBytes" -> "1g",
      "spark.sql.files.openCostInBytes" -> "0")
    val saved = confs.map { case (key, _) => key -> s.conf.getOption(key) }
    val reloaded = try {
      confs.foreach { case (key, v) => s.conf.set(key, v) }
      assert(s.read.parquet(path).rdd.getNumPartitions < 32)
      val idx = Hnsw.read(s, path)
      // a dump written before the shard count was persisted
      val meta = java.nio.file.Paths.get(path, "_graft_meta.json")
      java.nio.file.Files.writeString(meta,
        java.nio.file.Files.readString(meta).replaceAll(",\"shards\":\\d+", ""))
      java.nio.file.Files.delete(java.nio.file.Paths.get(path, "._graft_meta.json.crc"))
      Seq(idx, Hnsw.read(s, path))
    } finally saved.foreach {
      case (key, Some(v)) => s.conf.set(key, v)
      case (key, None)    => s.conf.unset(key)
    }
    reloaded.zip(Seq("with", "without")).foreach { case (idx, meta) =>
      assert(idx.graphs.getNumPartitions == 32, s"$meta a persisted shard count")
      assert(idx.graphs.collect().length == 32, s"$meta a persisted shard count")
      assertParity(idx, s"reloaded $meta a persisted shard count")
    }
  }

  test("default beam on a build() index at correctness scale: recall@10 " +
       ">= 0.99 through searchIndex, before and after write/read") {
    val s = spark
    import s.implicits._
    val small = data.filter(col("id") < 2000)
    val idx = Hnsw.build(small)
    val path = java.nio.file.Files.createTempDirectory("hnswbeamsmall")
      .resolve("idx").toString
    Hnsw.write(idx, path)
    val want = exact(0 until 2000)
    val qdf = queries.indices.map(i => (i.toLong, queries(i))).toDF("qid", "qvec")
    Seq(idx -> "built", Hnsw.read(s, path) -> "reloaded").foreach { case (x, what) =>
      val found = Hnsw.searchIndex(x, qdf, k).collect()
        .groupBy(_.getLong(0)).map { case (qid, rs) => qid -> rs.toSeq.map(_.getLong(1)) }
      val r = recall(i => found.getOrElse(i.toLong, Seq.empty), want)
      assert(r >= 0.99, s"$what: recall@10 $r")
    }
  }

  test("k <= 0 keeps the full efSearch beam in every shard") {
    val ef = 200
    Seq(4, 32).foreach { shards =>
      val idx = indexes(shards)
      val serving = Hnsw.serve(idx)
      val graphs = idx.graphs.collect()
      queries.take(10).foreach { q =>
        // each graph searched on its own runs the full beam
        val perShard = graphs.toSeq.flatMap(_.search(q, 0, ef))
          .sortBy { case (id, d) => (d, id) }
        assert(perShard.length == graphs.map(g => math.min(ef, g.size)).sum)
        Seq(0, -1).foreach { kk =>
          assert(serving.search(q, kk, ef) == perShard, s"$shards shards, k $kk")
        }
      }
    }
  }
}

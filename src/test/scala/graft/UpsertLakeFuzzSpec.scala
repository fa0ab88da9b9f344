package graft

import org.apache.spark.sql.DataFrame

import graft.engine.Upsert

/** Model-based fuzz for the partitioned-lake pair: [[Upsert.upsertPartitioned]]
  * (keyed EXCLUDED-wins upsert that rewrites only touched partitions) and
  * [[Upsert.purgeKeys]] (tombstone anti-join that rewrites only hit
  * partitions and explicitly deletes emptied ones).  Seeded random batch
  * sequences — upserts mixing updates of live keys and fresh inserts, purges
  * of random live keys, occasionally re-RUNNING the identical batch (the
  * crash-retry convergence the scaladoc promises for the rename swap) —
  * applied against an in-memory model.
  *
  * Keys map to a FIXED partition (`p = k % 5`), the documented usage
  * contract (partition by a stable column); within it the model checks the
  * full EXCLUDED-wins/preserve algebra: `v` updates take the incoming value,
  * `w` is written once and preserved thereafter, inserts take both from the
  * batch.  After every op the whole lake must equal the model exactly, and
  * after a purge that empties a partition the partition directory itself
  * must be gone (an emptied partition stages nothing to swap in).
  */
class UpsertLakeFuzzSpec extends SparkFunSuite {
  import spark.implicits._

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("upsertlake_spec").toString + "/lake"

  private def df(rows: Iterable[(Long, Long, Long, Long)]): DataFrame =
    rows.toSeq.toDF("k", "p", "v", "w")

  private def lakeRows(root: String): Set[(Long, Long, Long, Long)] =
    spark.read.parquet(root).select("k", "p", "v", "w")
      .as[(Long, Long, Long, Long)].collect().toSet

  for (seed <- FuzzSeeds.seeds(31L, 173L)) {
    test(s"random upsert/purge/replay history (seed $seed): the lake always " +
      "equals the model; emptied partitions disappear") {
      val rng = new scala.util.Random(seed)
      val root = newRoot()
      var model = Map.empty[Long, (Long, Long)] // k -> (v, w); p = k % 5
      var nextKey = 0L
      def part(k: Long): Long = k % 5
      def batchOf(ks: Seq[Long]): Map[Long, (Long, Long)] =
        ks.map(k => k -> (rng.nextLong(1000), rng.nextLong(1000))).toMap
      def run(batch: Map[Long, (Long, Long)]): Unit =
        Upsert.upsertPartitioned(spark, root,
          df(batch.map { case (k, (v, w)) => (k, part(k), v, w) }),
          Seq("k"), Seq("v"), Seq("w", "p"), "p")
      def applyToModel(batch: Map[Long, (Long, Long)]): Unit =
        model = model ++ batch.map { case (k, (v, w)) =>
          // EXCLUDED-wins v; first-write-wins w
          k -> (v, model.get(k).map(_._2).getOrElse(w))
        }

      // bootstrap
      val init = batchOf((0L until 12L).toSeq)
      nextKey = 12L
      run(init); applyToModel(init)

      var lastBatch = init
      for (op <- 1 to 10) {
        val desc = rng.nextInt(10) match {
          case 0 | 1 | 2 | 3 | 4 => // upsert: live updates + fresh inserts
            val updates = rng.shuffle(model.keys.toSeq)
              .take(rng.nextInt(1 + model.size / 2))
            val fresh = (nextKey until nextKey + rng.nextLong(4) + 1).toSeq
            nextKey += fresh.size
            val batch = batchOf(updates ++ fresh)
            run(batch); applyToModel(batch)
            lastBatch = batch
            s"upsert ${updates.size}u+${fresh.size}i"
          case 5 | 6 => // replay the IDENTICAL batch: must converge, not dup
            run(lastBatch); applyToModel(lastBatch)
            s"replay ${lastBatch.size}"
          case _ => // purge random live keys; check emptied dirs vanish
            val victims = rng.shuffle(model.keys.toSeq)
              .take(rng.nextInt(1 + model.size / 2))
            if (victims.nonEmpty) {
              Upsert.purgeKeys(spark, root,
                victims.map(k => (k, part(k))).toDF("k", "p"),
                Seq("k"), "p")
              model = model -- victims
            }
            s"purge ${victims.size}"
        }
        val want = model.map { case (k, (v, w)) => (k, part(k), v, w) }.toSet
        assert(lakeRows(root) == want,
          s"seed $seed op #$op ($desc): lake diverged from the model")
        // partition-directory invariant: exactly the partitions the model
        // still populates exist on disk (an emptied one left behind would
        // resurrect stale rows on the next read)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
        val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
          .filter(_.isDirectory).map(_.getPath.getName)
          .filter(_.startsWith("p=")).map(_.stripPrefix("p=").toLong).toSet
        val wantDirs = model.keys.map(part).toSet
        assert(dirs == wantDirs,
          s"seed $seed op #$op ($desc): partition dirs $dirs != model $wantDirs")
      }
    }
  }
}

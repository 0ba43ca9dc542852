package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** The one lineage policy: every Dataset checkpoint under `src/main`
  * goes through here (LineageSpec fails on any other).
  *
  * With [[GraftConf.CheckpointDir]] unset (the default) a truncation is
  * exactly `localCheckpoint(eager)`: fast, blocks kept on the executors,
  * so losing an executor fails the next action that reads them with
  * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`. With it set, every truncation is
  * a reliable, eager `checkpoint` into that dir, which survives executor
  * loss. Reliable files stay until [[release]] deletes them (or the dir
  * is cleaned). */
object Lineage {

  def truncate[T](ds: Dataset[T], eager: Boolean = false): Dataset[T] = {
    val spark = ds.sparkSession
    GraftConf.CheckpointDir(spark) match {
      case None => ds.localCheckpoint(eager)
      case Some(dir) =>
        val sc = spark.sparkContext
        val p = new Path(dir)
        val want = p.getFileSystem(sc.hadoopConfiguration).makeQualified(p)
        // setCheckpointDir adds a fresh uuid subdir on every call
        if (!sc.getCheckpointDir.exists(d => new Path(d).getParent == want))
          sc.setCheckpointDir(dir)
        // persisted so the file-writing pass re-reads the blocks the
        // count job cached: the source is computed once
        ds.persist(StorageLevel.MEMORY_AND_DISK)
        try ds.checkpoint(eager = true)
        finally ds.unpersist(blocking = false)
    }
  }

  /** Deletes the reliable checkpoint files behind `ds`; a no-op when
    * [[GraftConf.CheckpointDir]] is unset. */
  def release(ds: Dataset[_]): Unit =
    if (GraftConf.CheckpointDir(ds.sparkSession).isDefined)
      fileOf(ds).foreach { f =>
        val p = new Path(f)
        p.getFileSystem(ds.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }

  /** The reliable checkpoint dir `ds` reads, found by walking its RDD
    * lineage. */
  private def fileOf(ds: Dataset[_]): Option[String] = {
    def walk(r: RDD[_], depth: Int): Option[String] =
      if (depth > 8) None
      else r.getCheckpointFile.orElse(
        r.dependencies.view.flatMap(d => walk(d.rdd, depth + 1)).headOption)
    walk(ds.queryExecution.toRdd, 0)
  }
}

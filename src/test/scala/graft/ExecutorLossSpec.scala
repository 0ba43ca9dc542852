package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graft.ExecutorShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Lineage on executor loss, in a two-executor `local-cluster`: every
  * executor is killed after a [[Lineage.truncate]] has materialized (the
  * checkpoint's blocks may sit on either one), and the next action runs
  * on the replacements. With `spark.graft.checkpointDir` set it reads
  * the reliable files and returns the unkilled rows; unset, it fails
  * naming CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, never with wrong rows. */
class ExecutorLossSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    // getOrCreate would return the shared local session — stop it
    // first; later suites re-create it via getOrCreate
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    // Spark's test mode, for the cluster's start only: the workers run
    // in temp dirs (not $SPARK_HOME/work) removed at stop, and the
    // executors get this JVM's class path, so graft's expressions and
    // UDFs run there. SQLConf is loaded first so no default of it
    // reads the flag.
    SQLConf.get
    // the Spark home whose jars/ this JVM loads Spark from
    val sparkHome = Paths.get(classOf[SparkContext].getProtectionDomain
      .getCodeSource.getLocation.toURI).getParent.getParent
    val testProps = Seq("spark.testing" -> "1",
      "spark.test.home" -> sparkHome.toString)
    testProps.foreach { case (k, v) => sys.props(k) = v }
    try Tables.pinDialect(SparkSession.builder()
      .master("local-cluster[2,1,1024]")
      .appName("graft-executor-loss")
      // the worker's launcher reads it to find the jars of a Spark home
      // that is not a build tree
      .config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate())
    finally testProps.foreach { case (k, _) => sys.props -= k }
  }

  /** Holds the checkpoint dir and a documents table whose duplicate
    * texts give the dedup query rows. */
  private val tmp = Files.createTempDirectory("graft-executor-loss")

  override def afterAll(): Unit =
    try spark.stop()
    finally Files.walk(tmp).iterator().asScala.toSeq.reverse
      .foreach(p => Files.deleteIfExists(p))

  /** Kills every registered executor and returns once the master's
    * replacements have registered in their place. */
  private def loseExecutors(): Unit = {
    val sc = spark.sparkContext
    val lost = ExecutorShim.ids(sc)
    assert(lost.size == 2, lost)
    lost.foreach(id => assert(ExecutorShim.killAndReplace(sc, id), id))
    val deadline = System.nanoTime() + 120e9.toLong
    def replaced = {
      val now = ExecutorShim.ids(sc)
      now.size == 2 && now.intersect(lost).isEmpty
    }
    while (!replaced) {
      assert(System.nanoTime() < deadline,
        s"executors ${ExecutorShim.ids(sc)} did not replace $lost")
      Thread.sleep(100)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The frames under test: ConnectedComponents (its rounds' checksum
    * actions have materialized every truncation when `labels` returns)
    * and a dedup query with the materialize gate forced on (its
    * truncations materialize inside the query's first action). */
  private def frames(): Seq[(String, () => DataFrame, DataFrame => Unit)] = {
    import spark.implicits._
    val edges = ((1L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L))).toDF("src", "dst")
    val corpus = tmp.resolve("corpus")
    if (!Files.exists(corpus))
      (0L until 40L).map(i => (i, s"the quick brown fox number ${i % 10} " +
          "jumps over the lazy dog")).toDF("doc_id", "text")
        .write.parquet(corpus.resolve("documents.parquet").toString)
    Seq(
      ("ConnectedComponents",
        () => operators.ConnectedComponents.labels(edges), _ => ()),
      ("dedup materialize gate",
        () => SparkEntry.registry("td_dedup_ngram_jaccard")
          .build(spark, corpus.toString),
        df => df.collect()))
  }

  /** Runs `body` with the materialize gate forced on and `dir` as the
    * checkpoint dir (unset for None). */
  private def withConfs(dir: Option[String])(body: => Unit): Unit = {
    val keys = Seq(GraftConf.DedupMaterializePerCoreBytes.name,
      GraftConf.CheckpointDir.name)
    spark.conf.set(keys.head, "0")
    dir.foreach(spark.conf.set(keys(1), _))
    try body finally keys.foreach(spark.conf.unset)
  }

  test("with spark.graft.checkpointDir set, the action after executor loss returns the unkilled rows") {
    withConfs(Some(tmp.resolve("ck").toString)) {
      for ((name, build, materialize) <- frames()) {
        val unkilled = rows(build())
        assert(unkilled.nonEmpty, name)
        val df = build()
        materialize(df)
        loseExecutors()
        assert(rows(df) == unkilled, name)
      }
    }
  }

  test("unset, executor loss fails the next action naming CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND") {
    withConfs(None) {
      for ((name, build, materialize) <- frames()) {
        val df = build()
        materialize(df)
        loseExecutors()
        val e = intercept[Exception](df.collect())
        val msgs = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
        assert(msgs.exists(_.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")),
          s"$name: $e")
      }
    }
  }
}

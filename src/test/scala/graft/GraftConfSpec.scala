package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftConf]]: every `spark.graft.*` key is declared once, reads its
  * default when unset, and fails on a bad value naming key and value. */
class GraftConfSpec extends AnyFunSuite with SparkTestSession {

  import GraftConf._

  /** Per key: values that must be rejected — a malformed one first, then
    * (for bounded keys) one that parses but breaks the bound. */
  private val bad: Map[Key[_], Seq[String]] = Map(
    AnnQueryIdBound -> Seq("abc", "0"),
    KnnNodeBound -> Seq("1e3", "-1"),
    AnnIvfCells -> Seq("x", "0"),
    SemdedupCells -> Seq("8.5", "0"),
    AnnIvfTrain -> Seq("two", "-1"),
    AnnProbes -> Seq("", "0"),
    AnnPqTrain -> Seq("2x", "-3"),
    AnnPqCodes -> Seq("ten", "0"),
    BroadcastNodeLimit -> Seq("5M", "-1"),
    ButterflyProbePairBound -> Seq("1.6e7", "-1"),
    ButterflyBroadcastPairLimit -> Seq("none", "-5"),
    CcSaltBuckets -> Seq("abc", "-1"),
    CheckpointDir -> Seq(" "),
    DedupBucketChunkBytes -> Seq("8MB", "0"),
    DedupMaterializePerCoreBytes -> Seq("auto", "-1"),
    TopkRewrite -> Seq("yes"),
    TopkPartialBudgetBytes -> Seq("64m", "0"),
    StreamSink -> Seq("Noop", ""),
    StreamStatePartitions -> Seq("four", "0"),
    BpeLocalVocabLimit -> Seq("1e6", "-1"))

  test("20 keys, each declared once under spark.graft., 8 of them bench-only") {
    assert(all.size == 20)
    assert(all.map(_.name).distinct.size == all.size)
    assert(all.forall(_.name.startsWith("spark.graft.")))
    assert(benchOnly.map(_.name).toSet == Set("ann.queryIdBound",
      "knngraph.nodeBound", "ann.ivf.cells", "semdedup.cells",
      "ann.ivf.train", "ann.probes", "ann.pq.train", "ann.pq.codes")
      .map("spark.graft." + _))
  }

  test("a malformed or out-of-bound value fails naming the key and the value") {
    assert(bad.keySet == all.toSet, "every declared key needs bad values")
    for ((k, vs) <- bad; v <- vs) {
      val c = new SQLConf
      c.setConfString(k.name, v)
      val e = intercept[IllegalArgumentException](k(c))
      assert(e.getMessage == s"${k.name} must be ${k.rule}; got '$v'")
      spark.conf.set(k.name, v)
      try {
        val e2 = intercept[IllegalArgumentException](k(spark))
        assert(e2.getMessage.contains(k.name) &&
          e2.getMessage.contains(s"'$v'"))
        intercept[IllegalArgumentException](nonDefaults(spark))
      } finally spark.conf.unset(k.name)
    }
  }

  test("every default round-trips, and only non-default values are stamped") {
    val c = new SQLConf
    for (k <- all) {
      assert(k(c) == k.default && k(spark) == k.default, k.name)
      k.default match {
        case None => ()
        case d => assert(k.read(d.toString) == d, k.name)
      }
    }
    assert(nonDefaults(spark).isEmpty)
    spark.conf.set(CcSaltBuckets.name, " 8 ")
    spark.conf.set(StreamSink.name, "noop")
    spark.conf.set(AnnQueryIdBound.name, "100")
    try assert(nonDefaults(spark) == Seq(AnnQueryIdBound.name -> "100",
      StreamSink.name -> "noop"))
    finally Seq(CcSaltBuckets, StreamSink, AnnQueryIdBound)
      .foreach(k => spark.conf.unset(k.name))
  }

  test("an undeclared spark.graft. key fails naming it") {
    // deleted knobs and a typo of cc.saltBuckets
    for ((k, v) <- Seq("spark.graft.base.partitions" -> "4",
        "spark.graft.cc.checkpointDir" -> "/tmp/ck",
        "spark.graft.cc.checkpointInterval" -> "5",
        "spark.graft.cc.saltBucket" -> "2")) {
      spark.conf.set(k, v)
      try {
        val e = intercept[IllegalArgumentException](nonDefaults(spark))
        assert(e.getMessage == s"undeclared graft conf: $k")
      } finally spark.conf.unset(k)
    }
    assert(nonDefaults(spark).isEmpty)
  }

  test("bad values fail the operators that read them, naming key and value") {
    def failsNaming(key: String, v: String)(body: => Any): Unit = {
      spark.conf.set(key, v)
      try {
        val e = intercept[Exception](body)
        val msgs = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
        assert(msgs.exists(m => m.contains(key) && m.contains(s"'$v'")),
          msgs.mkString("\n"))
      } finally spark.conf.unset(key)
    }
    val dir = "/root/testdata/sf0.001"
    failsNaming(TopkRewrite.name, "yes") {
      SparkEntry.queries("rel_topk_per_key")(spark, dir).collect()
    }
    failsNaming(StreamSink.name, "Noop") {
      SparkEntry.queries("st_dedup_keys")(spark, dir).collect()
    }
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    failsNaming(CcSaltBuckets.name, "abc") {
      operators.ConnectedComponents.labels(edges).collect()
    }
    // every truncation site reads the key, not only ConnectedComponents
    failsNaming(CheckpointDir.name, " ") {
      operators.PageRank.run(edges, iterations = 1).collect()
    }
  }

  test("no spark.graft. literal under src/main outside GraftConf.scala") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString != "GraftConf.scala").toSeq
    assert(files.size > 50)
    val quote = "\""
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(quote + "spark.graft.")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{RelStress, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[AnnQualityAb.clusteredEmbeddings]], the one clustered-embeddings
  * generator behind AnnQualityAb (unshifted) and DriftAutoRetrain
  * (shifted): the unshifted rows are AnnQualityAb's original formula,
  * the shift moves the arrivals and nothing else, and the copy is
  * rewritten when its source table or a generation parameter changes. */
class ClusteredEmbeddingsSpec extends AnyFunSuite with graft.SparkTestSession {

  private val src = "/root/testdata/sf0.001"

  private def tmp(tag: String): Path =
    Files.createTempDirectory(s"graft-clustered-$tag-")

  private def rows(dir: Path): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  private def names(dir: Path): Set[String] = {
    val l = Files.list(dir)
    try l.iterator().asScala.map(_.getFileName.toString).toSet
    finally l.close()
  }

  test("unshifted rows equal AnnQualityAb's reference formula") {
    val out = tmp("plain")
    val (nBase, dim) = AnnQualityAb.clusteredEmbeddings(spark, src,
      out.toString, scale = 2, noise = 1.2, shift = false, cpus = 4)
    // the reference: AnnQualityAb's fixture as written before the
    // generator was shared
    def mix(a: Column, b: Column): Column =
      (pmod(a * lit(2654435761L) + b * lit(40503L) + lit(2166136261L),
        lit(1000003L)).cast("double") / lit(1000003.0)) - lit(0.5)
    val js = sequence(lit(0), lit(dim - 1))
    val mu = transform(js, j => mix(col("label") + lit(7919L), j))
    val ref = Tables.load(spark, src, "embeddings")
      .crossJoin(broadcast(spark.range(2).toDF("rep")))
      .select((col("vec_id") + col("rep") * lit(nBase)).as("vec_id"),
        col("label"))
      .withColumn("munorm",
        sqrt(aggregate(mu, lit(0.0), (acc, x) => acc + x * x)))
      .select(col("vec_id"), col("label"),
        transform(js, j =>
          (mix(col("label") + lit(7919L), j) / col("munorm") +
            lit(1.2) * mix(col("vec_id"), j)).cast("float"))
          .as("embedding"))
      .select(col("vec_id"), col("embedding"), col("label"))
    val got = rows(out)
    assert(got.schema.map(f => f.name -> f.dataType.simpleString) ==
      ref.schema.map(f => f.name -> f.dataType.simpleString))
    assert(got.count() == 2 * nBase && nBase > 0)
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
    Tables.deleteRecursively(out.toString)
  }

  test("the shift moves exactly the arrivals, vec_id % 5 == 4") {
    val (plain, shifted) = (tmp("unshifted"), tmp("shifted"))
    for ((dir, shift) <- Seq(plain -> false, shifted -> true))
      AnnQualityAb.clusteredEmbeddings(spark, src, dir.toString, scale = 2,
        noise = 0.6, shift = shift, cpus = 4)
    val a = rows(plain)
    val b = rows(shifted)
    val pairs = a.join(b, a("vec_id") === b("vec_id"))
      .select(a("vec_id"), (a("embedding") =!= b("embedding")).as("moved"),
        (a("label") === b("label")).as("same_label"))
    assert(pairs.count() == a.count() && a.count() == b.count())
    assert(pairs.filter(col("moved") =!= (col("vec_id") % 5 === 4)).isEmpty)
    assert(pairs.filter(!col("same_label")).isEmpty)
    assert(pairs.filter(col("moved")).count() > 0)
    Seq(plain, shifted).foreach(d => Tables.deleteRecursively(d.toString))
  }

  test("a refreshed source table or a new parameter rewrites the copy") {
    val srcCopy = tmp("src")
    Files.copy(Paths.get(s"$src/embeddings.parquet"),
      srcCopy.resolve("embeddings.parquet"))
    val out = tmp("vintage")
    def gen(noise: Double): Unit = AnnQualityAb.clusteredEmbeddings(spark,
      srcCopy.toString, out.toString, scale = 2, noise = noise, shift = true,
      cpus = 4)
    def sentinels() =
      names(out).filter(_.startsWith(RelStress.ClusteredSentinel))
    def parts() = names(out.resolve("embeddings.parquet"))
    gen(0.6)
    val (m0, p0) = (sentinels(), parts())
    assert(m0.size == 1)
    gen(0.6)
    assert(sentinels() == m0 && parts() == p0,
      "an unchanged source and parameters must reuse the copy")
    // a regenerated source: same path, later mtime
    val f = srcCopy.resolve("embeddings.parquet")
    Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(f).toMillis + 5000))
    gen(0.6)
    val (m1, p1) = (sentinels(), parts())
    assert(m1.size == 1 && m1 != m0, "the old vintage's sentinel survived")
    assert(p1 != p0, "the copy was not rewritten for the new vintage")
    gen(0.7)
    assert(sentinels().size == 1 && sentinels() != m1 && parts() != p1,
      "a noise change must rewrite the copy")
    Seq(srcCopy, out).foreach(d => Tables.deleteRecursively(d.toString))
  }
}

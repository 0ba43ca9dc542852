package graft.queries

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** The corners of the BPE trainer the registry corpus doesn't reach:
  * a merge OF a merged symbol (placeholder expansion back to raw
  * characters) and early vocabulary exhaustion.
  */
class BpeTrainSpec extends AnyFunSuite with SparkTestSession {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.toDF("text")
  }

  test("merging a merged symbol expands placeholders to raw chars") {
    // wordFreq: aaaa -> 4, bc -> 3
    // step 1: 'aa' (3 pairs x freq 4 = 12); aaaa -> P1 P1
    // step 2: P1P1 (4) -> must report the EXPANDED pair 'aaaa'
    // step 3: 'bc' (3)
    val out = TextQueries.bpeTrain(
      docs("aaaa aaaa aaaa", "aaaa bc bc", "bc"))
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1, "aa", 12L), (2, "aaaa", 4L), (3, "bc", 3L)))
  }

  test("vocabulary exhaustion stops early instead of throwing") {
    // 'ab' merges in step 1; after step 2 merges P1 (wait: single
    // symbol, no pairs) — only ONE merge is learnable here
    val out = TextQueries.bpeTrain(docs("ab ab", "ab"))
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1, "ab", 3L)))
  }

  /** Single-threaded reference BPE over (repr, freq) ROWS (not a map —
    * the trainer never re-groups rows that collide after a replace, and
    * pair counts sum freq over rows, so rows is the faithful mirror):
    * count all overlapping 2-grams weighted by freq, argmax with
    * ties-to-smallest-pair, replace left-to-right non-overlapping
    * (Java String.replace == Spark replace()), placeholder per step. */
  private def naiveBpe(rows: Seq[(String, Long)], numMerges: Int)
      : Seq[(Int, String, Long)] = {
    var repr = rows
    val expand = scala.collection.mutable.LinkedHashMap[String, String]()
    val out = Seq.newBuilder[(Int, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      val counts = scala.collection.mutable.Map[String, Long]()
      for ((w, f) <- repr; i <- 0 until w.length - 1) {
        val p = w.substring(i, i + 2)
        counts(p) = counts.getOrElse(p, 0L) + f
      }
      if (counts.isEmpty) exhausted = true
      else {
        val (pair, total) = counts.toSeq.minBy { case (p, t) => (-t, p) }
        val expanded = expand.foldLeft(pair) {
          case (p, (ph, ex)) => p.replace(ph, ex)
        }
        out += ((step, expanded, total))
        val ph = (0xE000 + step).toChar.toString
        expand(ph) = expanded
        repr = repr.map { case (w, f) => (w.replace(pair, ph), f) }
        step += 1
      }
    }
    out.result()
  }

  test("60 merges match the driver-side reference implementation") {
    // deterministic pseudo-corpus: ~100 distinct words over 8 letters,
    // quadratic-residue frequencies — rich enough that 60 merges chain
    // placeholders many levels deep across all 6 checkpoint boundaries
    // without exhausting the vocabulary
    val alphabet = "abcdefgh"
    val rng = new scala.util.Random(42) // fixed seed — fully deterministic
    val vocab = (0 until 140).map { i =>
      val len = 3 + (i % 5)
      (0 until len).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    }.distinct
    val tokens = vocab.zipWithIndex.flatMap {
      case (w, i) => Seq.fill(1 + (i * i) % 23)(w)
    }
    val lines = tokens.grouped(20).map(_.mkString(" ")).toSeq
    val freqRows = tokens.groupBy(identity).toSeq
      .map { case (w, ws) => (w, ws.size.toLong) }
    val expected = naiveBpe(freqRows, 60)
    assert(expected.size == 60, "fixture must not exhaust before 60 merges")
    val got = TextQueries.bpeTrain(docs(lines: _*), 60)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
    // the DISTRIBUTED loop (forced by disabling the driver-side path)
    // must produce the identical table — the two paths may never drift
    val gotDistributed = withConf(graft.GraftConf.BpeLocalVocabLimit.name, "0") {
      TextQueries.bpeTrain(docs(lines: _*), 60)
        .orderBy("step").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    }
    assert(gotDistributed == expected)
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("argmax ties break in UTF-8 byte order on supplementary-plane pairs, both paths") {
    // one word "a�", one word "a𐐀" (U+10400), equal
    // freq: the two candidate pairs TIE at total 1. Java UTF-16 char
    // order puts the surrogate pair (0xD801...) FIRST; Spark/DuckDB
    // UTF-8 byte order puts "a�" (EF BF BD < F0 90 90 80) first.
    // The learned step-1 merge must be the UTF-8-smaller pair in BOTH
    // paths — a UTF-16 tie-break here is exactly the silent divergence
    // the round-10 backlog warned about.
    val supp = new String(Character.toChars(0x10400))
    val corpus = docs(s"a� $supp a$supp �")
    // distinct words: "a�"(1), supp(1), "a"+supp(1), "�"(1)
    // pairs: "a�" -> 1, "a"+supp -> 1 — a genuine tie
    val local = TextQueries.bpeTrain(corpus, 1).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val dist = withConf(graft.GraftConf.BpeLocalVocabLimit.name, "0") {
      TextQueries.bpeTrain(corpus, 1).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    }
    assert(local == Seq((1, "a�", 1L)),
      s"local path must pick the UTF-8-smaller pair, got $local")
    assert(dist == local, "distributed and local paths diverged on the tie")
  }
}

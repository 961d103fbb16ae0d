package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Exact, TextOps}

/** tok3/tok4's BPE pieces, pinned against an independent imperative
  * reference: (1) the merge FOLD (functions.aggregate) must implement
  * greedy left-to-right non-overlapping pair merging — exhaustively
  * checked on every small symbol sequence, including the overlapping
  * [a,a,a,a] class and already-merged multi-char symbols; (2) the whole
  * training loop must reproduce a plain-Scala reference trainer's merge
  * sequence on the real corpus (frequency-ranked pairs, UTF-8
  * byte-order tie-break, as Spark's orderBy and DuckDB sort strings).
  * Cross-engine equality of the same loop is the DuckDB oracle's job; this spec makes the SEMANTICS the fixed
  * point, so Spark and DuckDB can't agree on something that isn't BPE. */
class BpeSpec extends AnyFunSuite {
  import TestSpark._

  /** The textbook scan: merge at i iff (s(i), s(i+1)) == (l, r) and i
    * isn't consumed by the previous merge. */
  private def refMerge(syms: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def refTrain(words: Map[String, Long], steps: Int)
      : Seq[(String, String, Long)] = {
    // one symbol per code point, as Spark's split(wd, "")
    var tab = words.toSeq.map { case (w, c) =>
      (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))).toVector, c)
    }
    val winnerOrder = Ordering.Tuple3(Ordering.Long.reverse, Exact.utf8Order, Exact.utf8Order)
    val out = Seq.newBuilder[(String, String, Long)]
    var step = 0
    var done = false
    while (step < steps && !done) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- tab; i <- 0 until syms.length - 1)
        pc((syms(i), syms(i + 1))) = pc.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (pc.isEmpty) done = true
      else {
        val ((l, r), f) = pc.toSeq.minBy { case ((pl, pr), pf) => (pf, pl, pr) }(winnerOrder)
        out += ((l, r, f))
        tab = tab.map { case (s, c) => (refMerge(s, l, r), c) }
        step += 1
      }
    }
    out.result()
  }

  test("merge fold == greedy reference on every small sequence (incl. overlap runs)") {
    // alphabets that exercise both the plain case and symbols a prior
    // merge could have produced (multi-char, prefix-sharing)
    val cases = Seq(
      (Seq("a", "b"), ("a", "b")),
      (Seq("a", "b"), ("a", "a")),
      (Seq("a", "b"), ("b", "a")),
      (Seq("a", "ab"), ("a", "ab")),
      (Seq("a", "ab"), ("ab", "a")),
      (Seq("aa", "a"), ("aa", "a")))
    val rows = for {
      (alpha, _) <- cases.distinct
      n <- 1 to 6
      seq <- Seq.fill(n)(alpha).foldLeft(Seq(Vector.empty[String])) {
        (acc, syms) => acc.flatMap(v => syms.map(v :+ _))
      }
    } yield seq
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark) // bpe_merge
    for ((alpha, (l, r)) <- cases) {
      val seqs = rows.filter(_.forall(alpha.contains)).distinct
      val df = seqs.map(v => Tuple1(v)).toDF("syms")
        .withColumn("merged", TextOps.bpeMergeFold(col("syms"), l, r))
      val got = df.select(col("syms"), col("merged")).collect()
        .map(row => (row.getSeq[String](0).toVector, row.getSeq[String](1).toVector))
      for ((in, out) <- got)
        assert(out == refMerge(in, l, r),
          s"fold($in, $l+$r) = $out, reference = ${refMerge(in, l, r)}")
    }
  }

  test("tok3 training loop reproduces the reference trainer on the corpus") {
    val wc = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("wd"))
      .groupBy(col("wd")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = refTrain(wc, 8)
    assert(expected.size == 8, "corpus must support 8 merges")
    val got = TextOps.tok3BpeTrain(spark, sf).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(got == expected.toSeq)
    // and the merge sequence is non-trivial: some merged symbol feeds a
    // later merge (the iterative part actually engages)
    val merged = got.map { case (l, r, _) => l + r }.toSet
    assert(got.exists { case (l, r, _) => merged.contains(l) || merged.contains(r) },
      s"no merge consumed an earlier merge's symbol: $got")
  }

  test("tok3 breaks frequency ties in UTF-8 byte order, not UTF-16 order") {
    // (a, U+FF61) and (a, U+1F600) tie at frequency 2: UTF-8 puts
    // U+FF61 (EF BD A1) first, Scala's default String order puts the
    // surrogate pair of U+1F600 (D83D DE00) first
    val (half, emoji) = ("\uFF61", new String(Character.toChars(0x1F600)))
    assert(Exact.utf8Order.lt(half, emoji) && emoji < half)
    val dir = Files.createTempDirectory("graft_bpe_tie_").toString
    import spark.implicits._
    Seq((0L, s"a$half a$emoji"), (1L, s"a$emoji a$half"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.tok3BpeTrain(spark, dir).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(got.head == (("a", half, 2L)), s"first merge: $got")
    assert(got == refTrain(Map(s"a$half" -> 2L, s"a$emoji" -> 2L), 8))
  }

  test("tok3 runs a bounded number of Spark jobs, independent of the merge count") {
    TextOps.tok3BpeTrain(spark, sf).collect() // warm the session's caches
    val jobs = jobsDuring { TextOps.tok3BpeTrain(spark, sf).collect() }
    // the one word-count pass; every merge step runs on the driver
    assert(jobs <= 4, s"tok3 ran $jobs Spark jobs")
  }

  test("tok4 totals are consistent: n_bpe_tokens between n_words and raw char count") {
    val out = TextOps.tok4BpeEncode(spark, sf).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val (nw, nb) = (r.getLong(1), r.getLong(2))
      assert(nb >= nw, s"BPE can't produce fewer tokens than words: $r")
    }
  }
}

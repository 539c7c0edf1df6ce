package graft

import org.apache.spark.sql.functions._
import graft.operators.UlmTrain

/** H51/H52: the unigram-LM trainer against an INDEPENDENT in-process
  * reference — a pure-Scala reimplementation of seed/E-step/M-step over the
  * collected corpus, compared round-for-round (the QualityTrain pinning
  * discipline). Also pins the EM property that makes the loop non-vacuous:
  * pruning migrates usage to surviving overlapping pieces.
  */
class UlmTrainSpec extends SparkSpec {

  /** Reference trainer: same algorithm, no Spark — code-point n-grams,
    * priority-ordered literal rewrite, usage counts, (usage ASC, piece
    * DESC) prune. */
  private def reference(texts: Seq[String]): Seq[(Int, Long, String, Long, Long)] = {
    // seed: positional intra-word n-grams, n in 2..4
    val cnt = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach { t =>
      val cps = t.codePoints.toArray
      var n = 2
      while (n <= 4) {
        var i = 0
        while (i + n <= cps.length) {
          val p = new String(cps, i, n)
          if (!p.contains(' ')) cnt(p) = cnt.getOrElse(p, 0L) + 1
          i += 1
        }
        n += 1
      }
    }
    val sel = cnt.toSeq.sortWith { case ((pa, ca), (pb, cb)) =>
      if (ca != cb) ca > cb else UlmTrain.u8Lt(pa, pb)
    }.take(UlmTrain.SeedN)
    // segmentation priority: maximal munch (length DESC, cnt DESC, piece)
    val seed = sel.sortWith { case ((pa, ca), (pb, cb)) =>
      val la = pa.codePointCount(0, pa.length)
      val lb = pb.codePointCount(0, pb.length)
      if (la != lb) la > lb
      else if (ca != cb) ca > cb
      else UlmTrain.u8Lt(pa, pb)
    }.zipWithIndex.map { case ((p, c), i) => (i + 1L, p, c) }
    def pua(pid: Long) = new String(Character.toChars((UlmTrain.PuaBase + pid - 1).toInt))
    var alive = seed.map(_._1).toSet
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String, Long, Long)]
    for (r <- 1 to UlmTrain.Rounds) {
      val live = seed.filter(p => alive(p._1))
      val segged = texts.map(t =>
        live.foldLeft(t) { case (acc, (pid, piece, _)) => acc.replace(piece, pua(pid)) })
      val usage = live.map { case (pid, _, _) =>
        val cp = UlmTrain.PuaBase + pid - 1
        pid -> segged.map(s => s.codePoints.toArray.count(_ == cp).toLong).sum
      }.toMap
      val dropped = live.sortWith { (x, y) =>
        if (usage(x._1) != usage(y._1)) usage(x._1) < usage(y._1)
        else UlmTrain.u8Lt(y._2, x._2)
      }.take(UlmTrain.Prune).map(_._1).toSet
      live.foreach { p =>
        out += ((r, p._1, p._2, usage(p._1), if (dropped(p._1)) 0L else 1L))
      }
      alive = alive -- dropped
    }
    out.toSeq
  }

  test("H51: engine trajectory == in-process reference, round for round") {
    val texts = graft.operators.Tables.documents(spark, sf)
      .select(col("text")).collect().map(_.getString(0)).toSeq
    val want = reference(texts)
    val got = UlmTrain.ulmTrainVocab(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == want.sortBy(t => (t._1, t._2)), {
      val g = got.take(8); val w = want.sortBy(t => (t._1, t._2)).take(8)
      s"trajectory diverges:\n got: $g\nwant: $w"
    })
    // shape sanity: every round drops exactly Prune pieces, vocab shrinks
    val byRound = got.groupBy(_._1)
    (1 to UlmTrain.Rounds).foreach { r =>
      val rows = byRound(r)
      assert(rows.length == UlmTrain.SeedN - (r - 1) * UlmTrain.Prune)
      assert(rows.count(_._5 == 0L) == UlmTrain.Prune, s"round $r prune count")
    }
  }

  test("H51: pruning migrates usage — EM re-estimation is not vacuous") {
    val got = UlmTrain.ulmTrainVocab(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
    val r1 = got.filter(_._1 == 1).map(t => t._2 -> t._3).toMap
    val last = got.filter(_._1 == UlmTrain.Rounds).map(t => t._2 -> t._3).toMap
    // at least one survivor's usage CHANGED once competitors were pruned
    assert(last.exists { case (pid, u) => r1.get(pid).exists(_ != u) },
      "no usage moved across rounds — pruning freed nothing, EM is vacuous")
  }

  test("H52: fertility under the learned vocab compresses and is consistent") {
    val rows = UlmTrain.fertilityUlm(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (words, toks, chars) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(toks < chars, s"${r.getString(0)}: no compression ($toks vs $chars chars)")
      assert(toks > words, s"${r.getString(0)}: fewer tokens than words?")
      assert(r.getLong(5) == 1000 * toks / math.max(words, 1L))
      assert(r.getLong(6) == 1000 * chars / math.max(toks, 1L))
    }
  }

  test("training submits one job per round, and warm vocabulary reads none") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ulm-jobs")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    // one per round, plus the seed, the parquet schema reads and the write
    val cold = jobsSubmitted(UlmTrain.ulmTrainVocab(spark, dir.toString))
    assert(cold <= UlmTrain.Rounds + 4, s"$cold jobs for ${UlmTrain.Rounds} rounds")
    UlmTrain.learnedVocab(spark, dir.toString)
    val warm = jobsSubmitted(UlmTrain.learnedVocab(spark, dir.toString))
    assert(warm == 0, s"memoized vocabulary re-read the artifact ($warm jobs)")
  }
}

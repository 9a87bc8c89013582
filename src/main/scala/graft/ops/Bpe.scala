package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer — train and apply (the Sennrich et al.
  * 2016 / GPT-2 algorithm, public): the vocabulary-learning and
  * tokenization step every LLM data pipeline runs between text cleaning
  * and sequence packing.
  *
  * TRAIN: per merge round, count adjacent symbol pairs across the corpus
  * (weighted by word frequency), adopt the most frequent pair
  * (deterministic tiebreak: lexicographic on the pair) as the next merge.
  * Each round is ONE distributed aggregate over the distinct-word
  * frequency table — the corpus is collapsed to (word, freq) once up
  * front (Zipf makes that table orders of magnitude smaller than the
  * token stream), then re-segmented per round by the merges learned so
  * far. The merge list — the ARTIFACT — is driver-held and tiny
  * (vocabulary-sized), like KMeans' centroid table.
  *
  * APPLY: greedy lowest-rank-first pair merging per word (the GPT-2
  * rule: repeatedly merge the adjacent pair with the smallest merge
  * rank until none applies). A pure per-row kernel over a broadcast
  * rank map; words tokenize independently, so apply is embarrassingly
  * parallel and the text never shuffles.
  *
  * ⊘ ScalaTest-only (iterative greedy recursion is not SQL-expressible);
  * the spec pins the classic hand-traceable training example, apply/train
  * consistency (training-set words re-tokenize to their final segments),
  * the concat-identity (tokens rejoin to the word), and determinism.
  * Word boundary = single space, matching the corpus tokenization used
  * across the text plane; the end-of-word marker `</w>` keeps
  * "est"-inside vs "est"-at-end distinct exactly as in the paper.
  */
object Bpe {

  type Merge = (String, String)

  /** Segment one word (as end-of-word-marked symbol list) by a rank map. */
  private[ops] def segment(word: Seq[String], rank: Map[Merge, Int]): Seq[String] = {
    var syms = word.toVector
    var done = false
    while (!done && syms.length > 1) {
      var bestIdx = -1
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0) done = true
      else syms = (syms.take(bestIdx) :+ (syms(bestIdx) + syms(bestIdx + 1))) ++
        syms.drop(bestIdx + 2)
    }
    syms
  }

  /** Character symbols of a word with the `</w>` end marker fused onto
    * the last character (the paper's formulation).
    */
  private[ops] def baseSymbols(w: String): Seq[String] = {
    val cs = w.map(_.toString)
    if (cs.isEmpty) Seq.empty
    else cs.init :+ (cs.last + "</w>")
  }

  /** Dispatch bound for [[train]]: collapsed (word, freq) tables at or
    * under this row count train DRIVER-SIDE in one collect + local loop.
    * Rationale: each distributed round is one Spark job, so a production
    * 30–50k-merge vocabulary means 30–50k sequential jobs — days of pure
    * per-stage scheduling floor at ANY data size. Zipf makes the collapsed
    * table small (a 100 TB corpus has ~10^7–10^8 distinct words, but MOST
    * corpora used for vocab training are pre-sampled far below that), so
    * when it fits comfortably on the driver (64k rows ≈ a few MB) the local
    * loop is strictly better; above the bound the distributed rounds keep
    * memory bounded. Both paths share segment/baseSymbols and the identical
    * (max freq, lexicographic-min pair) tiebreak — parity is pinned by
    * BpeSpec.
    */
  val LocalTrainMaxWords: Long = 1L << 16

  /** Driver-side trainer over a collected (word, freq) table — the exact
    * algorithm of the distributed rounds (re-segment per round, count
    * adjacent pairs weighted by freq, adopt the max-freq pair with
    * lexicographic-min tiebreak), minus the per-round job.
    */
  private[ops] def trainLocal(words: Array[(String, Long)], nMerges: Int): Seq[Merge] = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val rank = merges.zipWithIndex.toMap
      val counts = scala.collection.mutable.HashMap.empty[Merge, Long]
      words.foreach { case (w, f) =>
        val syms = segment(baseSymbols(w), rank)
        var j = 0
        while (j < syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          counts(p) = counts.getOrElse(p, 0L) + f
          j += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bestP: Merge = null
        var bestF = Long.MinValue
        counts.foreach { case (p, f) =>
          if (bestP == null || f > bestF ||
            (f == bestF && (p._1 < bestP._1 || (p._1 == bestP._1 && p._2 < bestP._2))))
            { bestP = p; bestF = f }
        }
        merges += bestP
      }
      i += 1
    }
    merges.toSeq
  }

  /** Learn `nMerges` merges from a (text) corpus. Returns the ordered
    * merge list; rank = position. Size-dispatched on the collapsed
    * (word, freq) table: at or under `localMaxWords` rows the loop runs
    * driver-side ([[trainLocal]] — one job total instead of one per
    * merge round); above it, one distributed aggregate per round keeps
    * driver memory bounded. Identical merges either way (parity pinned
    * by spec).
    */
  def train(docs: DataFrame, nMerges: Int, textCol: String = "text",
      localMaxWords: Long = LocalTrainMaxWords): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // corpus -> distinct-word frequency table, ONCE (the Zipf collapse)
    val words = docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
      .persist()
    try {
      val nWords = words.count()
      if (nWords <= localMaxWords) return trainLocal(words.collect(), nMerges)
      val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
      var i = 0
      var exhausted = false
      while (i < nMerges && !exhausted) {
        val rank = merges.zipWithIndex.toMap
        val bcRank = spark.sparkContext.broadcast(rank)
        // one aggregate + one distributed argmax: adjacent-pair counts
        // over the re-segmented words reduce to a SINGLE (freq, pair)
        // winner — the pair table itself (which grows with the evolving
        // symbol vocabulary) never reaches the driver
        val top = words.flatMap { case (w, f) =>
          val syms = segment(baseSymbols(w), bcRank.value)
          (0 until syms.length - 1).map(j => ((syms(j), syms(j + 1)), f))
        }
          .groupByKey(_._1)
          .mapValues(_._2).reduceGroups(_ + _)
          .map { case ((a, b), f) => (f, a, b) }
        val bestOpt =
          try Some(top.reduce { (x, y) =>
            // max freq; lexicographic MIN pair on ties so training is
            // deterministic across partitionings and merge orders
            if (x._1 > y._1) x
            else if (y._1 > x._1) y
            else if (x._2 < y._2 || (x._2 == y._2 && x._3 <= y._3)) x
            else y
          })
          catch { case _: UnsupportedOperationException => None } // empty
        bcRank.destroy()
        bestOpt match {
          case Some((_, a, b)) => merges += ((a, b))
          case None => exhausted = true
        }
        i += 1
      }
      merges.toSeq
    } finally { words.unpersist(); () }
  }

  /** Tokenize: one row per doc with the token array and token count.
    * `merges` broadcast as a rank map; per-row kernel, no shuffle.
    */
  def tokenize(docs: DataFrame, merges: Seq[Merge], idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bcRank = spark.sparkContext.broadcast(merges.zipWithIndex.toMap)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, t) =>
        val toks = (if (t == null) "" else t).split(" ").iterator
          .filter(_.nonEmpty)
          .flatMap(w => segment(baseSymbols(w), bcRank.value))
          .toSeq
        (id, toks, toks.length.toLong)
      }
      .toDF(idCol, "tokens", "n_tokens")
  }
}

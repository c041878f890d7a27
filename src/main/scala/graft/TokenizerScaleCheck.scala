package graft

import org.apache.spark.sql.SparkSession

import graft.operators.TextOps

/**
 * Dev-only tokenizer-scale probe (r10 verdict item 3 + "What's wrong"
 * #2): a REAL tokenizer is 8k–32k merges over ≥10⁶ types, not the
 * 1200×2000 the suite pins. Two measurements on a Heaps-law corpus
 * (types ∝ √tokens — the vocabulary growth real corpora follow, which
 * the earlier salted replication probes deliberately broke):
 *
 *  1. TRAINER: wall + merges/s + driver heap for the lazy-heap Sennrich
 *     loop ([[TextOps.bpeMergesInMemoryIndexed]]) at 8k and 32k merges
 *     over 10⁵ and 10⁶ types. The collected vocab is the driver-side
 *     TRAINING STATE — this probe bounds it empirically.
 *  2. SERVING: bpeEncodeWithLocal CPU at 1× and 5× corpus scale where
 *     the 5× corpus grows types only ~√5× — the per-partition word
 *     memo's hit rate should IMPROVE with scale on a real corpus
 *     (the r10 11.6×-CPU-at-100× result was the salted generator's
 *     linear-type artifact, not the operator).
 *
 * Words compose from a shared 1296-syllable inventory (base-36 digit
 * pairs of the rank), so merges find real substructure; frequencies
 * are Zipf (freq ∝ 1/rank), giving the Heaps exponent ~0.5 under
 * inverse-CDF sampling.
 *
 * Usage: runMain graft.TokenizerScaleCheck [trainer|serving|all]
 */
object TokenizerScaleCheck {

  /** Injective rank → word over shared syllables: base-1296 digits of
    * the rank, each a 2-char syllable (consonant+vowel inventory). */
  def wordOf(rank: Long): String = {
    val sb = new StringBuilder
    var r = rank
    do {
      val d = (r % 1296L).toInt
      sb.append(('a' + d % 36 % 26).toChar)
      sb.append(('a' + d / 36 % 26).toChar)
      r /= 1296L
    } while (r > 0)
    sb.toString
  }

  /** Zipf vocab of `v` types: freq(r) = max(1, v*64/r) — ~64·v·ln(v)
    * total tokens, so types ≈ tokens^0.5-ish at these sizes. */
  def zipfVocab(v: Int): Array[(String, Long)] =
    (1 to v).map(r => (wordOf(r.toLong), math.max(1L, v.toLong * 64 / r)))
      .toArray

  private def heapMb(): Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  def trainerProbe(): Seq[(String, String)] = {
    var lastMerges: Seq[(String, String)] = Nil
    for (v <- Seq(100000, 1000000); rounds <- Seq(8000, 32000)) {
      val vocab = zipfVocab(v)
      System.gc()
      val before = heapMb()
      val t0 = System.nanoTime()
      val merges = TextOps.bpeMergesInMemoryIndexed(vocab, rounds)
      val dt = (System.nanoTime() - t0) / 1e9
      val after = heapMb()
      println(f"TOKSCALE trainer V=$v%8d rounds=$rounds%6d " +
        f"merges=${merges.size}%6d wall=$dt%8.2fs " +
        f"merges_per_s=${merges.size / dt}%8.0f " +
        f"heapMB=$before%5d->$after%5d")
      lastMerges = merges
    }
    lastMerges
  }

  def servingProbe(spark: SparkSession): Unit = {
    import spark.implicits._
    val listener = new graft.streaming.TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    // a 1024-merge model trained on the same type space
    val model = TextOps.BpeModel(
      TextOps.bpeMergesInMemoryIndexed(zipfVocab(100000), 1024))
    val wordsPerDoc = 200
    for (nDocs <- Seq(20000L, 100000L)) {
      // Heaps-law docs: each word inverse-CDF Zipf-sampled over a rank
      // space that grows with the corpus (types observed ∝ ~sqrt of
      // tokens) — deterministic splitmix streams, no Random
      val vSpace = math.max(1000L, math.sqrt(nDocs * wordsPerDoc).toLong * 8)
      val lnV = math.log(vSpace.toDouble)
      val parts = math.max(8L, nDocs / 2500L).toInt
      val docs = spark.range(nDocs).repartition(parts).as[Long]
        .map { d =>
          val sb = new StringBuilder
          var i = 0
          while (i < wordsPerDoc) {
            var z = (d * 200 + i) * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
            z ^= (z >>> 31)
            val u = (z >>> 11).toDouble / (1L << 53).toDouble
            val rank = math.min(vSpace, math.exp(u * lnV).toLong + 1)
            if (i > 0) sb.append(' ')
            sb.append(wordOf(rank))
            i += 1
          }
          (d, sb.toString)
        }
        .toDF("doc_id", "text")
        .localCheckpoint(true)
      val nTypes = docs.selectExpr("explode(split(text, ' ')) AS w")
        .distinct().count()
      val t = (1 to 2).map { _ =>
        listener.reset()
        val t0 = System.nanoTime()
        TextOps.bpeEncodeWithLocal(docs, model)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      val res = listener.settledSummary()
      val tokens = nDocs * wordsPerDoc
      println(f"TOKSCALE serving docs=$nDocs%7d tokens=$tokens%10d " +
        f"types=$nTypes%8d wall=$t%7.2fs " +
        f"tokens_per_s=${tokens / t}%10.0f ${res.render}")
      graft.util.Checkpoints.release(docs)
    }
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("all")
    if (mode == "trainer" || mode == "all") trainerProbe()
    if (mode == "serving" || mode == "all") {
      val spark = GraftSession.local()
      servingProbe(spark)
      spark.stop()
    }
  }
}

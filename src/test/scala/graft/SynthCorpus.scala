package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seed-derived synthetic fixtures for the trainer and encoder specs:
  * a wide-vocabulary corpus and a collision-free merge table, both pure
  * functions of their arguments. */
object SynthCorpus {

  /** Deterministic per-id RNG — the whole corpus is a pure function of
    * (seed, id). */
  private def rngFor(seed: Long, id: Long) =
    new scala.util.Random(seed * 1000003L + id * 2654435761L)

  /** Wide-vocabulary corpus for trainer DEPTH evidence (SCALE_r11 §3,
    * SCALE_r12 §3, and the r12 local-trainer specs):
    * `nWords` distinct 8-char pseudo-words — fixed-width base-26 of
    * (index, index·Knuth-hash), distinct by construction — drawn
    * `draws` times per doc, seeded-uniform. The driver corpus exhausts
    * at 89 merges (one shared template vocabulary — every distinct
    * word fully fuses); training depth needs pair DIVERSITY, which
    * this supplies deterministically with no files written. */
  def wideVocabDocs(spark: SparkSession, nWords: Int, nDocs: Long,
      draws: Int, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    def b26f(x0: Long, w: Int): String = {
      val cs = new Array[Char](w)
      var x = x0
      var k = w - 1
      while (k >= 0) { cs(k) = ('a' + (x % 26)).toChar; x /= 26; k -= 1 }
      new String(cs)
    }
    // the index half must be injective: 26⁴ covers 456,976 indexes
    require(nWords <= 456976, s"wideVocabDocs caps at 26^4 words")
    val vocabArr = Array.tabulate(nWords)(i =>
      b26f(i, 4) + b26f((i.toLong * 2654435761L) & 0xfffffL, 4))
    val bc = spark.sparkContext.broadcast(vocabArr)
    spark.range(nDocs).as[Long].mapPartitions { it =>
      val v = bc.value
      it.map { id =>
        val r = rngFor(seed, id)
        (id, Array.fill(draws)(v(r.nextInt(v.length))).mkString(" "))
      }
    }.toDF("doc_id", "text")
  }

  /** Deterministic synthetic merge table for scale specs — collision-
    * free (every fused symbol is distinct) and multi-char-exercising:
    * all 676 single-letter pairs first, then (two-letter symbol,
    * letter) pairs, so a production-sized table exists without a
    * production-sized training run. NOT a learned model — a plan-shape
    * probe: the 10-merge gate keys stay the correctness story. */
  def syntheticMerges(n: Int): Seq[(String, String)] = {
    val letters = ('a' to 'z').map(_.toString)
    val l1 = for (a <- letters; b <- letters) yield (a, b)
    val l2 = for (a <- letters; b <- letters; c <- letters) yield (a + b, c)
    val all = l1 ++ l2
    require(n <= all.size, s"syntheticMerges supports up to ${all.size}")
    all.take(n)
  }
}

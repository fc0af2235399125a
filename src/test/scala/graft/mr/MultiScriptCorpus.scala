package graft.mr

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** A deterministic multi-script text corpus for the word-count specs:
  * Latin, accented Latin and Cyrillic words (mixed case, `,.` and `-`
  * punctuation, digits, underscores, blank lines), Zipf-skewed over a
  * vocabulary of ~1800 forms so a task holds far more than 128 distinct
  * keys. Written once per JVM to a temp file.
  */
object MultiScriptCorpus {

  private val latin = Seq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "de", "pa")
  private val accented = Seq("é", "ü", "ñ", "ç", "à", "ø", "ï", "ô", "ß", "å")
  private val cyrillic = Seq("ма", "ри", "до", "не", "го", "вл", "жи", "ще", "ты", "юз")
  private val fixed = Seq("alice", "Alice", "ALICE", "café", "Über", "naïve",
    "déjà-vu", "Онегин", "дядя", "Мой", "честных", "правил", "x_1", "42")

  /** Every word form: 3-syllable products per script, plus `fixed`. */
  private val vocab: IndexedSeq[String] = {
    def words(syl: Seq[String]) =
      for (a <- syl; b <- syl; c <- syl.take(6)) yield a + b + c
    (fixed ++ words(latin) ++ words(latin.zip(accented).map { case (l, a) => l + a }) ++
      words(cyrillic)).toIndexedSeq
  }

  private def line(rng: scala.util.Random): String =
    if (rng.nextInt(40) == 0) ""
    else Seq.fill(1 + rng.nextInt(14)) {
      // Zipf-like skew: index u³·|vocab| concentrates mass on the first forms
      val u = rng.nextDouble()
      val w = vocab(math.min(vocab.size - 1, (u * u * u * vocab.size).toInt))
      val cased = if (rng.nextInt(7) == 0) w.capitalize else w
      cased + (rng.nextInt(9) match { case 0 => ","; case 1 => "."; case _ => "" })
    }.mkString(if (rng.nextInt(5) == 0) "   " else " ")

  private lazy val lines: Seq[String] = {
    val rng = new scala.util.Random(20261017L)
    Seq.fill(6000)(line(rng))
  }

  lazy val path: String = {
    val f = Files.createTempFile("graft_multiscript", ".txt")
    f.toFile.deleteOnExit()
    Files.write(f, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    f.toString
  }
}

package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Context compression ("caveman mode") — reference
  * `pkg/textanalyzer/compressor.go:176-211`: remove only SAFE stopwords,
  * always preserving negations/logical operators and original casing;
  * punctuation is dropped by the smart tokenizer; result re-joined with
  * single spaces.
  */
object Compressor {

  private val englishSafe = Set(
    "a", "an", "the",
    "is", "am", "are", "was", "were", "be", "been", "being",
    "have", "has", "had", "do", "does", "did",
    "will", "would", "shall", "should",
    "to", "of", "in", "on", "at", "by", "for", "from", "with", "about",
    "its", "as")

  private val italianSafe = Set(
    "il", "lo", "la", "i", "gli", "le", "un", "uno", "una",
    "di", "a", "da", "in", "con", "su", "per", "tra", "fra",
    "al", "allo", "ai", "agli", "alla", "alle",
    "del", "dello", "dei", "degli", "della", "delle",
    "nel", "nello", "nei", "negli", "nella", "nelle",
    "sul", "sullo", "sui", "sugli", "sulla", "sulle",
    "dal", "dallo", "dai", "dagli", "dalla", "dalle",
    "col", "coi",
    "è", "era", "erano",
    "sto", "stai", "sta", "stiamo", "state", "stanno",
    "ho", "hai", "ha", "abbiamo", "avete", "hanno")

  private val important = Set(
    // English (compressor.go:79-87)
    "not", "no", "never", "none", "nothing",
    "and", "or", "but", "if", "unless", "except",
    "only", "all", "every", "each", "any", "a", "i",
    // Italian (compressor.go:90-99)
    "non", "mai", "nulla", "niente",
    "e", "ed", "o", "oppure", "ma", "però", "tuttavia",
    "se", "qualora", "tranne", "eccetto",
    "solo", "soltanto", "tutti", "tutte", "ogni", "ciascuno",
    "sono", "sia", "siano")

  private def isStopWord(word: String, lang: String): Boolean = {
    // Locale.ROOT: the reference's strings.ToLower and Spark's lower() are
    // both locale-independent; the JVM default-locale toLowerCase is not
    // (Turkish dotless-i would diverge).
    val lower = word.toLowerCase(java.util.Locale.ROOT)
    if (important.contains(lower)) false
    else lang match {
      case "italian" | "it" => italianSafe.contains(lower)
      case _                => englishSafe.contains(lower)
    }
  }

  /** `smartTokenize` (`compressor.go:135-172`): letters/digits/'/- are word
    * chars; whitespace and punctuation split; punctuation dropped; case
    * preserved. Iterates CODE POINTS like Go's `range` over a string —
    * per-char iteration would split supplementary-plane letters (e.g.
    * mathematical alphanumerics) into unpaired surrogates and diverge from
    * both the reference and the column form's \\p{L} regex.
    */
  def smartTokenize(text: String): Seq[String] = {
    val tokens = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      if (Character.isLetter(cp) || Character.isDigit(cp) ||
          cp == '\'' || cp == '-') cur.appendAll(Character.toChars(cp))
      else if (cur.nonEmpty) { tokens += cur.result(); cur.clear() }
      i += Character.charCount(cp)
    }
    if (cur.nonEmpty) tokens += cur.result()
    tokens.result()
  }

  def compress(text: String, lang: String = "english"): String = {
    if (text == null || text.isEmpty) return ""
    val normalizedLang = lang.toLowerCase match {
      case "en" | "eng" | "" => "english"
      case "it" | "ita"      => "italian"
      case l                 => l
    }
    smartTokenize(text).filterNot(isStopWord(_, normalizedLang)).mkString(" ")
  }

  /** Column form for response-projection compression — pure codegen column
    * math (split + filter + concat_ws), no serialization-boundary UDF.
    *
    * The removal set is resolved statically: `isStopWord` = "in the
    * language's safe set AND NOT in the merged important set", and both
    * sets are compile-time constants, so the per-row work is one tokenize
    * regex + a lowercase `isin` against a literal list. Output-identical
    * to [[compress]] (asserted in StemmerSpec + the t8 oracle).
    */
  def compressCol(text: Column, lang: String = "english"): Column = {
    val safe = lang.toLowerCase match {
      case "it" | "ita" | "italian" => italianSafe
      case _                        => englishSafe
    }
    val removal = (safe -- important).toSeq.sorted
    // smartTokenize as a regex split: letters / decimal digits / ' / - are
    // word chars (Character.isLetter ≡ \p{L}, isDigit ≡ \p{Nd}); everything
    // else separates and is dropped. Empty fragments from leading/trailing
    // separators are filtered.
    val toks = filter(
      split(coalesce(text, lit("")), "[^\\p{L}\\p{Nd}'-]+"),
      t => length(t) > 0)
    concat_ws(" ", filter(toks, t => !lower(t).isin(removal: _*)))
  }
}

package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis pipeline — reference `pkg/textanalyzer/analyzer.go`:
  * tokenize (lowercase, `[\p{L}0-9_]+`), language stopword filter, stem.
  *
  * DataFrame shape: tokenization + stopword filtering run as codegen'd
  * catalyst expressions (`regexp_extract_all` + `isin`); only the stemmer is
  * a scalar Scala UDF on the already-exploded token column, so the UDF does
  * minimal work per row and everything around it stays in whole-stage
  * codegen.
  */
object Analyzer {

  val TokenPattern = "[\\p{L}0-9_]+"

  val englishStopWords: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "has",
    "he", "in", "is", "it", "its", "of", "on", "that", "the", "to", "was",
    "were", "will", "with")

  val italianStopWords: Set[String] = Set(
    "a", "ad", "al", "allo", "ai", "agli", "all", "agl", "alla", "alle",
    "con", "col", "coi", "da", "dal", "dallo", "dai", "dagli", "dall",
    "dagl", "dalla", "dalle", "di", "del", "dello", "dei", "degli", "dell",
    "degl", "della", "delle", "e", "ed", "in", "nel", "nello", "nei",
    "negli", "nell", "negl", "nella", "nelle", "su", "sul", "sullo", "sui",
    "sugli", "sull", "sugl", "sulla", "sulle", "per", "tra", "contro", "io",
    "tu", "lui", "lei", "noi", "voi", "loro", "mio", "mia", "miei", "mie",
    "tuo", "tua", "tuoi", "tue", "suo", "sua", "suoi", "sue", "nostro",
    "nostra", "nostri", "nostre", "vostro", "vostra", "vostri", "vostre",
    "mi", "ti", "ci", "vi", "lo", "la", "li", "le", "gli", "ne", "il", "un",
    "uno", "una", "ma", "se", "perché", "anche", "come", "dov", "dove",
    "che", "chi", "cui", "non", "più", "quale", "quanto", "quanti",
    "quanta", "quante", "quello", "quelli", "quella", "quelle", "questo",
    "questi", "questa", "queste", "si", "ho", "hai", "ha", "abbiamo",
    "avete", "hanno", "abbia", "abbiate", "abbiano", "avrò", "avrai",
    "avrà", "avremo", "avrete", "avranno", "avrei", "avresti", "avrebbe",
    "avremmo", "avreste", "avrebbero", "avevo", "avevi", "aveva", "avevamo",
    "avevate", "avevano", "ebbi", "avesti", "ebbe", "avemmo", "aveste",
    "ebbero", "fui", "fosti", "fu", "fummo", "foste", "furono", "ero",
    "eri", "era", "eravamo", "eravate", "erano", "sarei", "saresti",
    "sarebbe", "saremmo", "sareste", "sarebbero", "sono", "sei", "è",
    "siamo", "siete", "sia", "siate", "siano", "sto", "stai", "sta",
    "stiamo", "state", "stanno")

  /** Driver-side tokenize, mirroring `Tokenize` (`analyzer.go:21-25`). */
  def tokenize(text: String): Seq[String] = {
    val m = java.util.regex.Pattern.compile(TokenPattern).matcher(text.toLowerCase)
    val out = Seq.newBuilder[String]
    while (m.find()) out += m.group()
    out.result()
  }

  def stopWords(lang: String): Set[String] = lang match {
    case "italian" => italianStopWords
    case _         => englishStopWords
  }

  def stemFn(lang: String): String => String = lang match {
    case "italian" => ItalianStemmer.stem
    case _         => EnglishStemmer.stem
  }

  /** Driver-side full pipeline (query analysis). Keeps duplicates — the
    * reference scores each repeated query token separately
    * (`core.go:2013-2020`).
    */
  def analyze(text: String, lang: String = "english"): Seq[String] =
    tokenize(text).filterNot(stopWords(lang)).map(stemFn(lang))

  /** Exploded `(id..., token)` DataFrame of analyzed tokens. Duplicates kept
    * (term frequency). Rows with zero tokens disappear (use a left join for
    * doc lengths). Stemming is a native expression ([[StemExpression]]) so
    * the whole pipeline stays in one codegen stage — no ScalaUDF converter
    * round-trip per token.
    */
  def tokensDF(docs: DataFrame, textCol: String, lang: String = "english"): DataFrame =
    docs
      .withColumn("_tok",
        explode(regexp_extract_all(lower(col(textCol)), lit(TokenPattern), lit(0))))
      .filter(!col("_tok").isin(stopWords(lang).toSeq: _*))
      .withColumn("token", StemExpression.stemCol(col("_tok"), lang))
      .drop("_tok", textCol)

  /** Per-row analyzed-token ARRAY: [[tokensDF]]'s expressions (tokenize,
    * stopword filter, stem) applied inside the row with `filter` and
    * `transform` instead of `explode`, so a doc stays one row. Duplicates
    * are kept in text order; null text yields null.
    */
  def analyzedTokens(text: Column, lang: String = "english"): Column = {
    val stop = stopWords(lang).toSeq
    transform(
      filter(regexp_extract_all(lower(text), lit(TokenPattern), lit(0)),
        t => !t.isin(stop: _*)),
      t => StemExpression.stemCol(t, lang))
  }

  /** Raw token array column (no stopword/stem) — T1 only. */
  def tokenizeCol(text: Column): Column =
    regexp_extract_all(lower(text), lit(TokenPattern), lit(0))
}

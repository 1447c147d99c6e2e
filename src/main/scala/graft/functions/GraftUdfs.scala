package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** The engine's (deliberately small) UDF surface — SURVEY.md §2.9.
  *
  * Only the operations whose semantics genuinely cannot be expressed
  * with built-in `functions._` live here: the composed NLP token
  * pipeline (lemmatizer + num2words + contraction table) and the
  * order-preserving clean-dedup tokenizer whose dedup key (cleaned
  * token) differs from its filter key (raw token). Everything else in
  * the engine — cosine, shingles, hashes, joins — is pure Catalyst
  * and stays in codegen.
  *
  * All closures capture only immutable top-level data from [[TextNlp]]
  * (vendored tables), so the UDFs serialize cheaply and each executor
  * JVM shares one copy — unlike the reference, which rebuilt the
  * stopword set and lemmatizer per token (`nlp_preprocessing.py:35,39`).
  */
object GraftUdfs {

  val cleanLabelUdf: UserDefinedFunction =
    udf((s: String) => TextNlp.cleanLabel(s))

  val tokensCleanDedupUdf: UserDefinedFunction =
    udf((s: String, maxLen: Int) => TextNlp.tokensCleanDedup(s, maxLen))

  val rootWordUdf: UserDefinedFunction =
    udf((w: String) => if (w == null) null else TextNlp.getRootWord(w))

  val numberWordsUdf: UserDefinedFunction =
    udf((d: String) => if (d == null) null else TextNlp.numberToWords(d))

  def cleanLabel(c: Column): Column = cleanLabelUdf(c)
  def rootWord(c: Column): Column = rootWordUdf(c)
  def numberWords(c: Column): Column = numberWordsUdf(c)
  def tokensCleanDedup(c: Column, maxLen: Column): Column = tokensCleanDedupUdf(c, maxLen)
}

package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** SQL-surface registration for the library's custom Catalyst
  * expressions, so `spark.sql("... cosine_sim(a, b) ...")` works exactly
  * like a built-in. [[registerAll]] writes the session's temp function
  * registry; a SQL-backed library query (q_sim_cosine_sql) calls it on
  * the session it runs on, so any session, however it was built, gets
  * the same functions.
  */
object GraftFunctions {

  private def fingerprintBuilder(args: Seq[Expression]): Expression = {
    val window = args match {
      case Seq(_, Literal(w: Int, _)) => w
      case Seq(_) => 16
      case _ => throw new IllegalArgumentException(
        "rolling_fingerprint(text[, window-literal])")
    }
    RollingFingerprint(args.head, window)
  }

  private def srpBuilder(args: Seq[Expression]): Expression = args match {
    case Seq(v, Literal(bands: Int, _), Literal(bits: Int, _)) =>
      SrpBandKeys(v, bands, bits)
    case _ => throw new IllegalArgumentException(
      "srp_band_keys(vec, bands-literal, bits-literal)")
  }

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "cosine_sim", args => CosineSimilarity(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "rolling_fingerprint", fingerprintBuilder, "built-in")
    reg.createOrReplaceTempFunction(
      "srp_band_keys", srpBuilder, "built-in")
    reg.createOrReplaceTempFunction(
      "decimal_dot", args => DecimalDotProduct(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "decimal_sqdist", args => DecimalSqDist(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "word_ngrams", ngramsBuilder, "built-in")
    reg.createOrReplaceTempFunction(
      "remove_tokens_at", args => RemoveTokensAt(args(0), args(1)),
      "built-in")
    reg.createOrReplaceTempFunction(
      "jaro_winkler", args => JaroWinkler(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "damerau_levenshtein",
      args => DamerauLevenshtein(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "nfc_normalize", args => NfcNormalize(args(0)), "built-in")
  }

  private def ngramsBuilder(args: Seq[Expression]): Expression = args match {
    case Seq(c, Literal(n: Int, _)) => WordNgramsGenerator(c, n)
    case _ => throw new IllegalArgumentException(
      "word_ngrams(text, n-literal)")
  }
}

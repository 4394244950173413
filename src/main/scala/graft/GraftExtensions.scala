package graft

import graft.functions.CosineSimilarity
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension plugin: registers graft's native expressions into the
  * SQL function registry, so `spark.sql("... graft_cosine(a, b) ...")` works
  * and plans show the function by name.
  *
  * Usage: `.withExtensions(new GraftExtensions)` on a session builder, or
  * `--conf spark.sql.extensions=graft.GraftExtensions` on a real cluster.
  * [[GraftExtensions.register]] installs the same functions into an already-
  * built session (used by the test/bench entry points).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  val functions: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("graft_cosine",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_cosine(arrayA, arrayB)")
        CosineSimilarity(args.head, args(1))
      }),
    ("graft_simhash16",
      new ExpressionInfo(classOf[graft.functions.SimHash16Expr].getName, "graft_simhash16"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash16(text)")
        graft.functions.SimHash16Expr(args.head)
      }),
    ("graft_simhash64",
      new ExpressionInfo(classOf[graft.functions.SimHash64Expr].getName, "graft_simhash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash64(text)")
        graft.functions.SimHash64Expr(args.head)
      }),
    ("graft_fingerprint",
      new ExpressionInfo(classOf[graft.functions.FingerprintMd5Expr].getName, "graft_fingerprint"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_fingerprint(text)")
        graft.functions.FingerprintMd5Expr(args.head)
      }),
    ("graft_minhash_sig",
      new ExpressionInfo(classOf[graft.functions.MinHashSigExpr].getName, "graft_minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_minhash_sig(text) (k=4)")
        graft.functions.MinHashSigExpr(args.head)
      }),
    ("graft_nfc",
      new ExpressionInfo(classOf[graft.functions.UnicodeNormalizeExpr].getName, "graft_nfc"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_nfc(text)")
        graft.functions.UnicodeNormalizeExpr(args.head, "NFC")
      }),
    ("graft_nfkc",
      new ExpressionInfo(classOf[graft.functions.UnicodeNormalizeExpr].getName, "graft_nfkc"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_nfkc(text)")
        graft.functions.UnicodeNormalizeExpr(args.head, "NFKC")
      }))

  /** Register into an existing session (idempotent). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ArrayDotProduct, ArrayIntersectCount, BloomMightContain, JaroWinkler, LshBuckets, MinHashSig, NfcNormalize, PqAssign, ShingleH60}

/** Session extensions registering graft's native expressions so they are
  * callable from SQL and `call_function` (`spark.sql.extensions` or
  * `builder.withExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // declarative aggregate(zip_with(a,b,*),0,+) dot products -> native
    // codegen'd array_dot (strict mode preserves null/length semantics)
    ext.injectOptimizerRule(_ => DotProductRewrite)
    // size(array_intersect(a,b)) -> native counting kernel (the LSH
    // families' Jaccard confirm), no intersection-array materialization
    ext.injectOptimizerRule(_ => IntersectCountRewrite)
    ext.injectFunction((
      FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "array_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "array_dot takes exactly 2 arguments")
        ArrayDotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("array_intersect_count"),
      new ExpressionInfo(classOf[ArrayIntersectCount].getName,
        "array_intersect_count"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          "array_intersect_count takes exactly 2 arguments")
        ArrayIntersectCount(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "bloom_might_contain takes exactly 2 arguments")
        BloomMightContain(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "nfc_normalize takes exactly 1 argument")
        NfcNormalize(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("pq_assign"),
      new ExpressionInfo(classOf[PqAssign].getName, "pq_assign"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 5,
          "pq_assign takes (vec, m, ksub, dsub, books_flat)")
        def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
            name: String): Int = {
          require(e.foldable, s"pq_assign $name must be a literal")
          e.eval(null) match {
            case i: Int => i
            case l: Long => l.toInt
            case other => throw new IllegalArgumentException(
              s"pq_assign $name must be an integer literal, got $other")
          }
        }
        PqAssign(children.head, intLit(children(1), "m"),
          intLit(children(2), "ksub"), intLit(children(3), "dsub"),
          children(4))
      }))
    // the MinHash-LSH stages (shingle hashes -> signature -> band
    // buckets); each checks its int parameter is a literal at analysis
    Seq[(String, (Expression, Expression) => Expression, Class[_])](
      ("shingle_h60", ShingleH60(_, _), classOf[ShingleH60]),
      ("minhash_sig", MinHashSig(_, _), classOf[MinHashSig]),
      ("lsh_buckets", LshBuckets(_, _), classOf[LshBuckets])
    ).foreach { case (name, make, cls) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == 2, s"$name takes exactly 2 arguments")
          make(children.head, children(1))
        }))
    }
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "jaro_winkler takes exactly 2 arguments")
        JaroWinkler(children.head, children(1))
      }))
  }
}

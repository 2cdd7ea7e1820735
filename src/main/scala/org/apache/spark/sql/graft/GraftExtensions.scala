package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Concat, Conv,
  Expression, ExpressionInfo, LessThan, Literal, Md5, Substring}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType}

/** SparkSessionExtensions entry point exposing graft's native
  * expressions to SQL:
  *
  *   - `vec_dot(a, b)` — [[FloatVecDot]], codegen'd float-vector dot
  *   - `topk_by_score(score, id, k)` — [[TopKByScore]], bounded-heap
  *     per-group top-k (k must be a literal)
  *   - `hash_split_point(key, salt)` — the portable md5-prefix split
  *     point 0..65535 that `graft.api.Transforms.hashSplit` /
  *     `hashSample` compare against (round 15): lets SQL/Python users
  *     freeze train/val/test splits with the exact Scala-API
  *     semantics (`CASE WHEN hash_split_point(k, 's') < 0.8*65536
  *     THEN 'train' …`). Pure built-in composition (md5 → substring →
  *     conv), fully codegen'd — no UDF.
  *   - `hash_sample(key, salt, fraction)` — the reproducible-sample
  *     predicate over the same point (fraction must be a literal).
  *
  * Register with
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
  * or `.withExtensions(new GraftExtensions)` on a session builder.
  * This is the supported way to ship Catalyst extensions in a
  * library: no fork of Spark, functions resolve through the normal
  * registry, and plans containing them survive every optimizer rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** The 16-bit md5-prefix split point (0..65535) of key under salt —
    * the primitive `Transforms.hashSplit`/`hashSample` compare
    * against, composed from built-ins so it codegens: membership
    * depends only on (key, salt), never on partitioning, row order or
    * data volume, and the lowercase fixed-width hex prefix compares
    * lexicographically == numerically, so `< t` here is bit-identical
    * to the Scala API's string comparison. */
  private def splitPoint(key: Expression, salt: Expression): Expression =
    Cast(Conv(
      Substring(Md5(Cast(Concat(Seq(
        Cast(key, StringType), Literal("#"), Cast(salt, StringType))),
        BinaryType)), Literal(1), Literal(4)),
      Literal(16), Literal(10)), IntegerType)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(BandJoinBucketingRule)
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "vec_dot(a, b) takes 2 arguments")
        FloatVecDot(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[FloatVecCosine].getName, "vec_cosine"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "vec_cosine(a, b) takes 2 arguments")
        FloatVecCosine(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("topk_by_score"),
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by_score"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "topk_by_score(score, id, k) takes 3 arguments")
        val k = exprs(2) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"topk_by_score: k must be an integer literal, got $other")
        }
        TopKByScore(exprs.head, exprs(1), k)
      }))
    ext.injectFunction((
      FunctionIdentifier("hash_split_point"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "hash_split_point"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          "hash_split_point(key, salt) takes 2 arguments")
        splitPoint(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("hash_sample"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "hash_sample"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          "hash_sample(key, salt, fraction) takes 3 arguments")
        val f = exprs(2) match {
          case Literal(d: Double, _) => d
          case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
          case Literal(f32: Float, _) => f32.toDouble
          case Literal(i: Int, _) => i.toDouble
          case Literal(l: Long, _) => l.toDouble
          case other => throw new IllegalArgumentException(
            s"hash_sample: fraction must be a numeric literal, got $other")
        }
        require(f >= 0 && f <= 1, s"hash_sample: fraction $f out of [0,1]")
        val t = math.round(f * 65536).toInt
        if (t >= 65536) Literal(true)
        else LessThan(splitPoint(exprs.head, exprs(1)), Literal(t))
      }))
  }
}

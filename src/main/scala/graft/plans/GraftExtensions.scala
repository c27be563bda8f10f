package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.functions.{CharRollingHash, CountInSet, MinHashSig, SimHash32, VecDot, WordNgramHashes}

/** Session-extension entry point: `--conf
  * spark.sql.extensions=graft.plans.GraftExtensions` (which
  * `graft.GraftSession` sets) injects every native SQL function and the
  * GroupedTopK strategy into each session the application creates.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => new GroupedTopKStrategy)
  }
}

/** The engine's one native-function registry: the extension above and
  * [[GraftExtensions.install]] both read this table, so the two paths
  * cannot drift.
  */
object GraftExtensions {

  type Registration = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_])(builder: Seq[Expression] => Expression): Registration =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  val registrations: Seq[Registration] = Seq(
    fn("char_rolling_hash", classOf[CharRollingHash])(children => CharRollingHash(children.head)),
    fn("minhash_sig", classOf[MinHashSig])(children => MinHashSig(children.head)),
    fn("simhash32", classOf[SimHash32])(children => SimHash32(children.head)),
    fn("vec_dot", classOf[VecDot])(children => VecDot(children(0), children(1))),
    fn("word_ngram_hashes", classOf[WordNgramHashes])(children =>
      children(1) match {
        case Literal(n: Int, _) => WordNgramHashes(children(0), n)
        case other =>
          throw new IllegalArgumentException(
            s"word_ngram_hashes: n must be an INT literal, got $other")
      }),
    fn("count_in_set", classOf[CountInSet]) { children =>
      val setExpr = children(1)
      require(setExpr.foldable,
        s"count_in_set: the set must be a literal string array, got $setExpr")
      val arr = setExpr.eval().asInstanceOf[ArrayData]
      val set = (0 until arr.numElements()).map { i =>
        require(!arr.isNullAt(i), "count_in_set: set elements must be non-null")
        arr.getUTF8String(i).clone()
      }.toArray
      CountInSet(children.head, set)
    },
    // Spark's runtime-filter bloom expressions, which Catalyst does not
    // register publicly (see BloomFunctions for the soundness contract).
    fn("graft_bloom_agg", classOf[BloomFilterAggregate])(children =>
      children match {
        case Seq(c) => new BloomFilterAggregate(c)
        case Seq(c, est) => new BloomFilterAggregate(c, est)
        case other =>
          throw new IllegalArgumentException(
            s"graft_bloom_agg expects 1 or 2 args, got ${other.size}")
      }),
    fn("graft_might_contain", classOf[BloomFilterMightContain])(children =>
      BloomFilterMightContain(children(0), children(1)))
  )

  /** Idempotent install into a session built without the extension:
    * registers every table entry and adds the GroupedTopK strategy unless
    * the session already plans with it.
    */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registrations.foreach { case (id, info, builder) => registry.registerFunction(id, info, builder) }
    val strategies = spark.experimental.extraStrategies ++
      spark.sessionState.planner.extraPlanningStrategies
    if (!strategies.exists(_.isInstanceOf[GroupedTopKStrategy]))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ new GroupedTopKStrategy
  }
}

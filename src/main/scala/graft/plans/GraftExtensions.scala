package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{GenerateExec, MapPartitionsExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

import graft.functions.{BloomMightContainExpr, CharNgramsExpr,
  DotProductExpr, JaccardBpExpr, LongChunksExpr, MinHashBandsExpr,
  SignSketchBandsExpr, SignSketchExpr, SimHash128BandsExpr, SimHash60Expr,
  SubwordCountExpr, WordNgramsExpr}

/** Engine extension point, through the PUBLIC `SparkSessionExtensions`
  * API (the (c)-tier mechanism of the build guidance; no private Spark
  * API). It registers two kinds of thing:
  *
  *  - the native dedup kernels, in the session's function registry. They
  *    are callable from SQL (`SELECT minhash_bands(sh, 192, 32, 6)`) and
  *    from the Column API via `call_function` ([[graft.functions.Native]]);
  *  - one adaptive planner rule, [[SmallSort]], as a query-stage
  *    preparation rule: a small global sort sorts in one range partition,
  *    so it runs no range-sampling job.
  *
  * Activate with `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions` — [[graft.Sessions]]
  * does both-in-one at builder time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectQueryStagePrepRule(_ => SmallSort)
    ext.injectFunction((
      new FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBandsExpr].getName, "minhash_bands"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "minhash_bands(shingles, k, bands, rows) takes 4 args")
        MinHashBandsExpr(args.head, intArg(args(1), "k"),
          intArg(args(2), "bands"), intArg(args(3), "rows"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("shingles_ngram"),
      new ExpressionInfo(classOf[WordNgramsExpr].getName, "shingles_ngram"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "shingles_ngram(words, n) takes 2 args")
        WordNgramsExpr(args.head, intArg(args(1), "n"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("char_ngrams"),
      new ExpressionInfo(classOf[CharNgramsExpr].getName, "char_ngrams"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "char_ngrams(str, n) takes 2 args")
        CharNgramsExpr(args.head, intArg(args(1), "n"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("subword_count"),
      new ExpressionInfo(classOf[SubwordCountExpr].getName, "subword_count"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "subword_count(words) takes 1 arg")
        SubwordCountExpr(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "dot_product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_product(a, b) takes 2 args")
        DotProductExpr(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("long_chunks"),
      new ExpressionInfo(classOf[LongChunksExpr].getName, "long_chunks"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "long_chunks(x, nChunks, chunkBits) takes 3 args")
        LongChunksExpr(args.head, intArg(args(1), "nChunks"),
          intArg(args(2), "chunkBits"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sign_sketch"),
      new ExpressionInfo(classOf[SignSketchExpr].getName, "sign_sketch"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "sign_sketch(v, bits) takes 2 args")
        SignSketchExpr(args.head, intArg(args(1), "bits"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sign_sketch_bands"),
      new ExpressionInfo(classOf[SignSketchBandsExpr].getName,
        "sign_sketch_bands"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "sign_sketch_bands(v, bits, nChunks) takes 3 args")
        SignSketchBandsExpr(args.head, intArg(args(1), "bits"),
          intArg(args(2), "nChunks"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60Expr].getName, "simhash60"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash60(words) takes 1 arg")
        SimHash60Expr(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContainExpr].getName,
        "bloom_might_contain"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "bloom_might_contain(bits, key) takes 2 args")
        BloomMightContainExpr(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("jaccard_bp"),
      new ExpressionInfo(classOf[JaccardBpExpr].getName, "jaccard_bp"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "jaccard_bp(a, b) takes 2 args")
        JaccardBpExpr(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash128_bands"),
      new ExpressionInfo(classOf[SimHash128BandsExpr].getName,
        "simhash128_bands"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash128_bands(words) takes 1 arg")
        SimHash128BandsExpr(args.head)
      }))
  }
}

/** A global sort over a small input sorts in ONE range partition.
  *
  * `orderBy` plans `Sort(global) <- Exchange(rangepartitioning(ord, n))`,
  * and a range exchange of n > 1 partitions first runs a sampling job
  * for its bounds, which re-runs the sort's whole input stage. One range
  * partition needs no bounds, so that job goes away. Adaptive coalescing
  * would end a small sort in one partition anyway: its parallelism-first
  * mode keeps partitions of at least
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB), so
  * below that size the n partitions only cost the sampling job. The rule
  * fires only when:
  *  - the exchange is the one `EnsureRequirements` planned for the sort.
  *    A user's `repartitionByRange(n)` keeps its n;
  *  - the logical `Sort`'s `sizeInBytes` is at most that minimum. The
  *    rule runs at the first plan and at every adaptive re-plan, which
  *    sees the runtime sizes of finished stages, so a sort after an
  *    aggregate qualifies once the aggregate's stage has run;
  *  - no operator between the exchange and the nearest query stage or
  *    leaf emits more rows than it reads without the estimate knowing:
  *    Catalyst does not scale size estimates by an explode's or a
  *    `flatMap`'s fan-out.
  * Answers never change: the exchange is still a range exchange on the
  * same ordering, only its partition count moves. */
object SmallSort extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s @ SortExec(_, true,
        e @ ShuffleExchangeExec(RangePartitioning(ord, n), child,
          ENSURE_REQUIREMENTS, _), _)
        if n > 1 && small(s) && !fansOut(child) =>
      val one = e.copy(outputPartitioning = RangePartitioning(ord, 1))
      one.copyTagsFrom(e)
      s.withNewChildren(Seq(one))
  }

  private def small(s: SortExec): Boolean = s.logicalLink.exists {
    case l: Sort => l.stats.sizeInBytes <=
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    case _ => false
  }

  // query stages are leaves, so the search stops at the current stage
  private def fansOut(p: SparkPlan): Boolean = p.exists {
    case _: GenerateExec | _: MapPartitionsExec => true
    case _ => false
  }
}

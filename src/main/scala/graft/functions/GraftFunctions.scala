package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The native-function library: every SQL name the engine's queries and
  * pipelines call beyond Spark's builtins, installed once per session
  * (the reference installs its macros at connect time).
  *
  * [[ensure]] runs at the two public entry boundaries —
  * [[graft.queries.QueryDef]]'s `gated`/`production` and
  * [[graft.core.Flow]] construction. Code that calls internal helpers
  * directly on a session that has passed neither calls it itself.
  * Sessions cloned from an ensured one (foreachBatch's micro-batch
  * session) inherit its registry.
  */
object GraftFunctions {

  /** (SQL name, arity, builder) of every native function. */
  val catalog: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("float_dot", 2, e => FloatDot(e(0), e(1))),
    ("graft_len", 1, e => PolyLen(e(0))),
    ("word_shingles", 1, e => WordShingles(e(0))),
    ("word_ngrams", 2, e => WordNGrams(e(0), e(1))),
    // legacy alias from when only the bigram case existed
    ("word_bigrams", 1, e => WordNGrams(e(0), Literal(2))),
    ("ngram_stats", 2, e => NGramStats(e(0), e(1))),
    ("char_entropy_stats", 1, e => CharEntropyStats(e(0))),
    ("winnow_fps", 3, e => WinnowFps(e(0), e(1), e(2))),
    ("minhash8", 1, e => MinHash8(e(0))),
    ("simhash16", 1, e => SimHash(e(0), 16)),
    ("simhash64", 1, e => SimHash(e(0), 64)),
    ("simhash128", 1, e => SimHash(e(0), 128)),
    ("hyperplane_buckets64", 1, e => HyperplaneBuckets64(e(0))),
    ("hyperplane_bands", 3, e => HyperplaneBands(e(0), e(1), e(2))),
    // Spark ships these two (the runtime-filter machinery's Bloom build
    // and probe, spark-catalyst aggregate/BloomFilterAggregate.scala)
    // but gives them no SQL name in 4.1 — surface them for t43's
    // Bloom-pruned decontamination. Analyzer wraps the returned
    // AggregateFunction in an AggregateExpression as for any builtin.
    ("bloom_filter_agg", 3, e => new BloomFilterAggregate(e(0), e(1), e(2))),
    ("might_contain", 2, e => BloomFilterMightContain(e(0), e(1))))

  /** Register every catalogued name this session lacks. Never replaces
    * a registered function, so repeat calls are free of the registry's
    * "replaced a previously registered function" warning. The check and
    * the insert hold the registry's own lock, so concurrent callers on
    * one session cannot both register a name. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      catalog.foreach { case (name, n, build) =>
        if (!registry.functionExists(FunctionIdentifier(name)))
          registry.createOrReplaceTempFunction(name, { (exprs: Seq[Expression]) =>
            // a clear message, not an IndexOutOfBounds from exprs(i)
            require(exprs.length == n,
              s"$name requires exactly $n argument(s), got ${exprs.length}")
            build(exprs)
          }, "built-in")
      }
    }
  }
}

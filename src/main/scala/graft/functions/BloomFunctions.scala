package graft.functions

import org.apache.spark.sql.SparkSession

/** SQL-callable wrappers for Spark's own runtime-filter bloom expressions.
  *
  * Catalyst ships `BloomFilterAggregate` / `BloomFilterMightContain` for its
  * AQE runtime-filter injection but does NOT register them in the public
  * function registry — so an EXPLICIT semi-join prune (build a bloom over
  * the selective build side, drop fact rows that cannot join *before* the
  * fact shuffle) isn't writable as SQL out of the box. Two entries of the
  * `graft.plans.GraftExtensions` table make the pattern first-class:
  *
  *   graft_bloom_agg(xxhash64(k) [, estItems])  →  binary bloom filter
  *   graft_might_contain(bf, xxhash64(k))       →  boolean (no false negatives)
  *
  * Exactness contract: a bloom prune is sound for inner joins — false
  * positives are eliminated by the join itself, and there are no false
  * negatives — so any query using it must (and `o_bloom_pruned_join` does)
  * keep the real join after the prune. At 100 TB this is the difference
  * between shuffling the full fact table and shuffling only the ~matching
  * fraction.
  */
object BloomFunctions {

  /** Idempotent registration of every native function; see
    * [[graft.plans.GraftExtensions.install]]. */
  def register(spark: SparkSession): Unit = graft.plans.GraftExtensions.install(spark)
}

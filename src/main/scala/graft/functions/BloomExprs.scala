package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL access to Spark's own runtime-filter bloom machinery
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the codegen'd
  * expressions `InjectRuntimeFilter` plants under AQE), exposed as
  * registered functions so a PIPELINE can build the filter over one
  * frame and probe it in another:
  *
  *  - `bloom_agg(xxhash64(key), est_items, num_bits)` aggregates to one
  *    BINARY value — a serialized bloom filter of fixed size
  *    (`num_bits/8` bytes) regardless of input cardinality; partials
  *    merge map-side by bitwise OR, so the exchange carries one filter
  *    per task.
  *  - `bloom_might_contain(<binary literal>, xxhash64(key))` probes it:
  *    false positives possible, false negatives never — the exact
  *    contract a PREFILTER needs (the caller re-verifies survivors
  *    exactly; see [[graft.operators.Corpus.decontaminateBloom]]).
  *
  * Both sides hash with `xxhash64`, matching what the aggregate's
  * updater and the probe's `mightContainLong` expect. The filter bytes
  * travel to probes as a foldable literal (the collect is `num_bits/8`
  * bytes of driver traffic — bounded metadata, same class as a
  * broadcast threshold), so the probe is a scan-stage predicate with no
  * join, no shuffle, and no per-row driver involvement. */
object BloomExprs {

  /** `bloom_agg` and `bloom_might_contain`, injected into every session
    * by [[graft.GraftExtensions]]. */
  val functions: Seq[graft.GraftExtensions.Function] = Seq(
    graft.GraftExtensions.function[BloomFilterAggregate]("bloom_agg") { exprs =>
      require(exprs.length == 3,
        s"bloom_agg expects (hash, est_items, num_bits), got ${exprs.length} args")
      new BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
    },
    graft.GraftExtensions.function[BloomFilterMightContain]("bloom_might_contain") { exprs =>
      require(exprs.length == 2,
        s"bloom_might_contain expects (bloom, hash), got ${exprs.length} args")
      BloomFilterMightContain(exprs(0), exprs(1))
    })

  /** Registers both in a session built without the extension; a no-op
    * where they are already registered. */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerAbsent(spark, functions)
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain

/** SQL registration for the broadcast-bloom semi-join pattern: the bloom
  * bitset is built with the PUBLIC `DataFrame.stat.bloomFilter` API (one
  * distributed treeAggregate; the merged filter is KBs on the driver —
  * bounded metadata, like IVF centroids), serialized, and shipped into
  * every task as a binary literal that `graft_bloom_contains` tests with
  * Spark's own codegen'd [[BloomFilterMightContain]] — the same primitive
  * Spark's runtime row-level filtering injects, exposed as a function.
  *
  * Why it matters at 100 TB: a semi-join against a selective dim shuffles
  * the entire fact side; the bloom test drops non-matching rows MAP-SIDE
  * for the cost of a few hashes per row, so the shuffle carries only
  * probable matches (false positives are removed by the exact join that
  * follows — results stay exact, the oracle proves it). */
object BloomContains {
  /** Serialized form accepted by BloomFilterMightContain. */
  def serialize(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}

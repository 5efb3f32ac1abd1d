package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cluster-scale join strategies (SURVEY.md §4.2, 100 TB design point).
  * Correctness never depends on these — they reshape the physical plan:
  *
  *  - Salting: a skewed hot key (one city_ibge_code holding 20% of rows)
  *    turns one reducer into the job's critical path. Salting fans the hot
  *    key across N sub-partitions (fact side: deterministic row-hash salt;
  *    dim side: replicate each row N times), joining on (key, salt). AQE's
  *    skew-join split handles moderate skew automatically; salting is the
  *    explicit contract for pathological keys.
  */
object Scale {

  /** Buy task parallelism for an EXPENSIVE per-row projection whose input
    * scan produced fewer splits than the shuffle-partition target — the
    * small-file / single-row-group regime, where Spark's byte-range file
    * splitting hands the whole table to one task and a CPU-heavy map chain
    * (variant construction, regex batteries, hash families) runs on one
    * core regardless of cluster size. The round-robin exchange ships only
    * the projection's INPUT columns (bounded by the undersplit input's
    * size, megabytes by construction), and the branch is dead at scale: a
    * 100 TB scan yields orders of magnitude more row-group splits than
    * cores, so `getNumPartitions >= target` and the DataFrame passes
    * through untouched — this is NOT an unconditional repartition of the
    * fact table. (Measured on q_fn_variant at sf0.1: the 6-path variant
    * pipeline over a single-row-group events.parquet dropped 4.3 s →
    * 1.2 s once its map stage stopped being single-task.) */
  def parallelizeIfUndersplit(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Bit-spread a 16-bit value into the even bit positions of a 32-bit
    * lane (the classic mask-shift Morton dilation — 4 shift/or/and steps,
    * no loop, pure codegen'd integer arithmetic). */
  private def spread16(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val c0 = c.cast("long").bitwiseAND(lit(65535L))
    val s0 = c0.bitwiseOR(shiftleft(c0, 8)).bitwiseAND(lit(16711935L))
    val s1 = s0.bitwiseOR(shiftleft(s0, 4)).bitwiseAND(lit(252645135L))
    val s2 = s1.bitwiseOR(shiftleft(s1, 2)).bitwiseAND(lit(858993459L))
    s2.bitwiseOR(shiftleft(s2, 1)).bitwiseAND(lit(1431655765L))
  }

  /** Z-order (Morton) interleave of two 16-bit dimensions into one 32-bit
    * clustering key: bit i of `a` lands at position 2i, bit i of `b` at
    * 2i+1, so z-adjacent rows are close in BOTH dimensions at every scale.
    * Pure integer mask-shift arithmetic — identical in any engine. */
  def zorder(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Typed Aggregator folding hash positions into a fixed-size bitset —
    * the custom-UDAF route (Aggregator + toColumn), chosen over a
    * driver-side collect so the filter build is a fully distributed
    * aggregation: partial bitsets OR together map-side exactly like any
    * algebraic aggregate. Positions are computed by Spark's own xxhash64
    * EXPRESSION before the aggregation (never re-implemented in Scala), so
    * build and probe can't drift. */
  private final class BitsetAgg(mBits: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](mBits / 64)
    override def reduce(b: Array[Long], p: Long): Array[Long] = {
      b((p >> 6).toInt) |= 1L << (p & 63); b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Bloom-filter pre-prune for a selective join: build a 2-hash bloom
    * filter over `keys`'s `keyCol` values and return `fact` filtered to
    * rows whose `factKey` MIGHT be in the key set (no false negatives;
    * false-positive rate ≈ (1−e^(−2n/m))² — about 1% for n=20k keys in
    * m=2^18 bits). The build is a distributed [[BitsetAgg]] aggregation
    * whose one-row result (m/8 bytes, bounded by the filter geometry
    * regardless of data scale) is BROADCAST to the probe side — no driver
    * round-trip anywhere; this is the manual form of Spark's own
    * InjectRuntimeFilter. The probe is a codegen'd bitwise AND, no shuffle
    * and no UDF, so at 100 TB the non-matching bulk of the fact table dies
    * at the scan, before the join shuffle. Callers needing exact semantics
    * follow with the real join (which also removes the false positives). */
  def bloomPrune(fact: DataFrame, factKey: String,
      keys: DataFrame, keyCol: String, mBits: Int): DataFrame = {
    require((mBits & (mBits - 1)) == 0 && mBits >= 64, "mBits: power of two >= 64")
    val spark = fact.sparkSession
    import spark.implicits._
    // one row holding the whole filter: distributed build, broadcast probe —
    // no driver round-trip anywhere
    val bits = keys
      // a NULL key can never match an equi-join probe, so it contributes no
      // bits (and would otherwise NPE the typed fold as a null position)
      .filter(col(keyCol).isNotNull)
      .select(explode(array(
        pmod(xxhash64(col(keyCol)), lit(mBits.toLong)),
        pmod(xxhash64(lit(7), col(keyCol)), lit(mBits.toLong)))).as("p"))
      .as[Long]
      .select(new BitsetAgg(mBits).toColumn.name("_bits"))
    fact
      .withColumn("_h1", pmod(xxhash64(col(factKey)), lit(mBits.toLong)))
      .withColumn("_h2", pmod(xxhash64(lit(7), col(factKey)), lit(mBits.toLong)))
      .crossJoin(broadcast(bits))
      .filter(expr(
        """(element_at(_bits, CAST(shiftright(_h1, 6) AS INT) + 1)
          |   & shiftleft(CAST(1 AS BIGINT), CAST(_h1 & 63 AS INT))) <> 0
          |AND
          |(element_at(_bits, CAST(shiftright(_h2, 6) AS INT) + 1)
          |   & shiftleft(CAST(1 AS BIGINT), CAST(_h2 & 63 AS INT))) <> 0""".stripMargin))
      .drop("_bits", "_h1", "_h2")
  }

  /** Skew-safe equi-join: fact row → one of `salts` sub-keys (deterministic
    * hash of the whole row tuple); dim row → replicated to all sub-keys.
    * Semantically identical to fact.join(dim, factKey === dimKey). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("_salt",
      pmod(xxhash64(fact.columns.map(col): _*), lit(salts)).cast("int"))
    val saltedDim = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(saltedDim,
        saltedFact(factKey) === saltedDim(dimKey) &&
          saltedFact("_salt") === saltedDim("_salt"))
      .drop("_salt")
  }
}

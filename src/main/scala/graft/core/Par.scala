package graft.core

import org.apache.spark.sql.DataFrame

/** Scan-parallelism floor for compute-heavy per-row kernels.
  *
  * The bench/test fixtures (and any small ingest) are single-file,
  * SINGLE-ROW-GROUP parquet: Spark's byte-range splitter hands every row
  * to one scan task no matter what `maxPartitionBytes` /
  * `minPartitionNum` say (a row group is indivisible), so a map-heavy
  * stage — codec synthesis/decode, minhash signatures, n-gram LM
  * tokenization, blocking-element construction — runs on ONE core of 32
  * until the first exchange (guide §2.5 "input skew: one huge
  * unsplittable file … repartition immediately after the read").
  *
  * [[spread]] round-robins the input up to the session default
  * parallelism ONLY when the plan's current partitioning is below it —
  * at production scale (thousands of input splits) it is a provable
  * no-op, so it never introduces a shuffle where the data is already
  * parallel; at fixture scale the shuffled rows are the slim pre-kernel
  * inputs. Round-robin repartition is deterministic
  * (`spark.sql.execution.sortBeforeRepartition` stays on), and callers
  * apply it only where downstream arithmetic is per-row or
  * order-independent (integer aggs), never upstream of a
  * cross-row double fold whose value the oracle hash-pins.
  *
  * Apply ONLY before genuinely heavy kernels — measured at sf0.1, the
  * exchange + extra planning costs ~0.3-0.7s, so light codegen kernels
  * (minhash FNV sigs, tokenize+count, 768-byte raster walks) get SLOWER
  * under it while heavy ones (per-row wav synthesis+decode at 8000
  * samples/row: 1.90 → 0.42s; ImageIO codec round-trips; per-row
  * blocking-element sorts) gain 1.1-4.5x.
  */
object Par {
  /** Known limitation (documented, not probed): the partition gate reads
    * the byte-range SPLIT count, so a single ROW GROUP larger than
    * `maxPartitionBytes` reports >= target splits while every row still
    * lands in one task (a row group is indivisible) — spread then no-ops
    * in exactly the skew case it targets. Fixture files are kept under
    * one split; production writers should size row groups ≤ the split
    * size. Detecting it would need a footer read per file at query time.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // plan-leaf probe (GraftShims.scanPartitions): reads the partition
    // count off the SAME cached queryExecution the later action uses —
    // `df.rdd` built a second deserializer QueryExecution per call
    // (~0.1-0.3s fixed planning cost per spread site at fixture scale)
    // and would eagerly execute upstream shuffle stages under AQE; the
    // `.rdd` path survives only as the fallback for exotic
    // (shuffle-free) leaf shapes
    val parts = org.apache.spark.sql.GraftShims.scanPartitions(df)
      .getOrElse(df.rdd.getNumPartitions)
    if (parts < target) df.repartition(target) else df
  }
}

package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4.x made `Column` a thin wrapper over `ColumnNode` and moved the
  * Expression<->Column conversions behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Extension libraries
  * conventionally access them from the `org.apache.spark.sql` package.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The frame's rows as Spark holds them, collected through its
    * executed plan under an SQL execution (so query listeners see it),
    * as `collect()` does minus the decode to external rows: a local
    * frame (`LocalTableScanExec`) hands back its rows with no job. */
  def collectInternal(df: Dataset[_]): Array[catalyst.InternalRow] = {
    val qe = df.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(
      execution.QueryExecution.withInternalError(
        """The "collect" action failed.""")(qe.executedPlan.executeCollect()))
  }

  /** The frame's rows as JSON objects, byte for byte what `toJSON`
    * gives: Spark's own `JacksonGenerator` under the `JSONOptions`
    * `toJSON` uses, run on the driver over [[collectInternal]]'s rows,
    * so rendering a local frame runs no job; at most `limit` of them.
    * A finished frame (a bare `LocalRelation`, what a resident search
    * returns) within the limit is rendered from its rows as they are,
    * with no plan built. */
  def jsonRows(df: Dataset[_], limit: Option[Int] = None): Array[String] = {
    val rows = df.queryExecution.analyzed match {
      case r: catalyst.plans.logical.LocalRelation
          if !r.isStreaming && limit.forall(r.data.length <= _) => r.data.toArray
      case _ => collectInternal(limit.fold[Dataset[_]](df)(df.limit))
    }
    val out = new java.io.CharArrayWriter()
    val gen = new catalyst.json.JacksonGenerator(df.schema, out,
      new catalyst.json.JSONOptions(Map.empty[String, String],
        df.sparkSession.sessionState.conf.sessionLocalTimeZone))
    try rows.map { row =>
      gen.write(row)
      gen.flush()
      val json = out.toString
      out.reset()
      json
    } finally gen.close()
  }

  /** Release the executor-storage blocks behind a `localCheckpoint`ed
    * (or `checkpoint`ed) DataFrame.
    *
    * A checkpointed Dataset's plan is a `LogicalRDD` leaf whose RDD
    * holds the materialized partitions in BlockManager storage. Spark
    * only frees those blocks when the RDD object is GC'd and the
    * ContextCleaner gets around to it — in an iterative loop that
    * checkpoints per iteration, superseded frames pile up in executor
    * storage until LRU eviction starts pressuring unrelated jobs (the
    * round-12 serving-latency regression). This frees them
    * deterministically. Only call it once nothing will read the frame
    * again: the lineage was CUT at checkpoint time, so the blocks are
    * the only copy and a later action on the frame would fail. For a
    * reliable (HDFS) `checkpoint()` the unpersist is a harmless no-op —
    * the data lives in the checkpoint dir, not in blocks. Spark logs
    * one WARN per unpersisted local checkpoint ("cannot be recomputed
    * after unpersisting") — expected: it states exactly the contract
    * above, not an error. */
  def releaseCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Silence the two expected-but-chatty WARN sources around
    * [[releaseCheckpoint]]: every unpersist of a local checkpoint logs
    * "was locally checkpointed … cannot be recomputed" once per RDD
    * reference (`org.apache.spark.rdd.*`), and the follow-up block
    * removal logs "Asked to remove block …, which does not exist"
    * (`BlockManager`). Both restate the documented contract above — in
    * a run that releases hundreds of frames they flood the log tail and
    * bury the lines that matter (the r13 driver bench tail captured
    * NOTHING but this spam). Call once from an entrypoint that releases
    * checkpoints in bulk (Bench, Verify, the server main); scoped to
    * the two specific logger subtrees, everything else stays at the
    * session's level. */
  def quietCheckpointLogs(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    // exactly the three loggers that emit the two messages — NOT the
    // whole org.apache.spark.rdd subtree, which would also suppress
    // unrelated WARN diagnostics (e.g. closure-capture warnings) for
    // the JVM's lifetime in long-lived server processes
    Configurator.setLevel("org.apache.spark.rdd.LocalRDDCheckpointData",
      Level.ERROR)
    Configurator.setLevel("org.apache.spark.rdd.RDD", Level.ERROR)
    Configurator.setLevel("org.apache.spark.storage.BlockManager", Level.ERROR)
  }

  /** Partition count `df` will execute with, WITHOUT `Dataset.rdd`.
    *
    * `df.rdd` builds a whole second QueryExecution (a deserializer plan
    * over the analyzed plan) per call — measured as a fixed 0.1-0.3s of
    * the `Par.spread` probe at fixture scale — and, worse, under AQE
    * `.rdd` on a plan containing exchanges EAGERLY EXECUTES the upstream
    * shuffle stages, which are not reused by the later real action
    * (silent double execution; the r20 ADVICE hazard). This probe reads
    * the SAME `queryExecution` the later action will reuse, so its lazy
    * plan work is never paid twice:
    *
    *  - a plan with a shuffle exchange reports `Some(Int.MaxValue)`:
    *    post-shuffle partitioning is session-scaled already, so a
    *    parallelism floor is a provable no-op — and this is exactly the
    *    case where probing via `.rdd` would double-execute. Under AQE
    *    the test reads the wrapper's `initialPlan`: AQE also wraps plans
    *    whose only exchanges are broadcasts (or subqueries), and those
    *    keep the probe side's scan partitioning — possibly one split;
    *  - exchange-free plans report the max partition count over their
    *    streamed scan leaves (file splits / checkpointed RDD partitions /
    *    local relation slices; broadcast build sides excluded) — the
    *    count the executed RDD will have, since narrow operators and
    *    broadcast joins preserve the streamed side's partitioning;
    *  - an unrecognized leaf reports None (caller decides; such a plan
    *    is shuffle-free here, so a `.rdd` fallback re-runs at most a
    *    broadcast build side). */
  def scanPartitions(df: Dataset[_]): Option[Int] = {
    import execution.{SparkPlan, adaptive, exchange}
    def streamedLeaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: exchange.BroadcastExchangeLike => Nil
      case leaf if leaf.children.isEmpty => Seq(leaf)
      case other => other.children.flatMap(streamedLeaves)
    }
    val plan = df.queryExecution.executedPlan match {
      case a: adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    if (plan.exists(_.isInstanceOf[exchange.ShuffleExchangeLike]))
      Some(Int.MaxValue)
    else {
      val leaves = streamedLeaves(plan).map {
        case f: execution.FileSourceScanExec =>
          Some(f.inputRDD.getNumPartitions)
        case r: execution.RDDScanExec => Some(r.rdd.getNumPartitions)
        case l: execution.LocalTableScanExec =>
          // mirrors LocalTableScanExec's private numParallelism
          Some(math.min(math.max(l.rows.length, 1),
            df.sparkSession.sparkContext.defaultParallelism))
        case _ => None
      }
      if (leaves.isEmpty || leaves.contains(None)) None
      else Some(leaves.flatten.max)
    }
  }

  /** Serialize a DataFrame to an Arrow IPC **stream** on `out` using
    * Spark's own Arrow writers (`execution.arrow.ArrowWriter` — the
    * exact serialization `toArrow`/pandas-interchange uses, so types and
    * nulls follow Spark's canonical Arrow mapping instead of a parallel
    * re-implementation). Driver-side by design: rows arrive via
    * `toLocalIterator` (one partition resident at a time) and leave in
    * `maxRecordsPerBatch`-row record batches. */
  def writeArrowStream(df: Dataset[Row], out: java.io.OutputStream,
      maxRecordsPerBatch: Int): Long = {
    import scala.jdk.CollectionConverters._
    require(maxRecordsPerBatch > 0, "maxRecordsPerBatch must be positive")
    val schema = df.schema
    val timeZone = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    val arrowSchema = util.ArrowUtils.toArrowSchema(
      schema, timeZone, errorOnDuplicatedFieldNames = true, largeVarTypes = false)
    val alloc = util.ArrowUtils.rootAllocator
      .newChildAllocator("graft-arrow-export", 0, Long.MaxValue)
    val root = org.apache.arrow.vector.VectorSchemaRoot.create(arrowSchema, alloc)
    try {
      val writer = execution.arrow.ArrowWriter.create(root)
      val stream = new org.apache.arrow.vector.ipc.ArrowStreamWriter(
        root, null, java.nio.channels.Channels.newChannel(out))
      val toInternal = catalyst.encoders.ExpressionEncoder(schema).createSerializer()
      stream.start()
      var inBatch = 0
      var total = 0L
      df.toLocalIterator().asScala.foreach { row =>
        writer.write(toInternal(row))
        inBatch += 1; total += 1
        if (inBatch == maxRecordsPerBatch) {
          writer.finish(); stream.writeBatch(); writer.reset(); inBatch = 0
        }
      }
      if (inBatch > 0) { writer.finish(); stream.writeBatch(); writer.reset() }
      stream.end()
      total
    } finally { root.close(); alloc.close() }
  }
}

package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-access bridge: `Dataset.ofRows` is `private[sql]`, and graft's
  * custom logical operators (e.g. [[graft.plans.AsOfJoinPlan]]) need a way
  * to re-enter the public `DataFrame` world after constructing a plan node
  * the fluent API can't express. This is the standard extension-library
  * pattern (the hook `SparkSessionExtensions` itself expects: strategies
  * see the plan, but something must put the plan into a Dataset first).
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The Catalyst expression a public `Column` wraps (`Column.expr` of
    * Spark ≤3; a `ColumnNode` behind `private[sql]` converters in 4.x).
    * `ExpressionUtils.expression` alone returns a LAZY
    * `ColumnNodeExpression` shell — the node-to-catalyst conversion must
    * be forced for callers that pattern-match the tree. Needed by plan-
    * level analysis OUTSIDE a query — e.g. manifest-stats file pruning
    * ([[graft.ops.Layout.snapshotReadWhere]]) decomposes a predicate
    * into conjuncts before any Dataset exists to resolve it against. */
  def expressionOf(c: Column): catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The inverse wrap: a public `Column` over a raw Catalyst expression
    * — needed where an expression comes from the SQL PARSER rather than
    * the fluent API (e.g. the `snapshot_read_where` TVF parses its
    * predicate string with the session parser and must hand
    * [[graft.ops.Layout.snapshotReadWhere]] the Column it expects). */
  def columnOf(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The Catalyst aggregate a typed-`Aggregator` UDAF (`functions.udaf`)
    * builds over `children` — what `spark.udf.register` installs, in the
    * builder form `SparkSessionExtensions.injectFunction` takes
    * (`UserDefinedAggregator` and `ScalaAggregator` are `private[sql]`). */
  def udafExpression(udaf: expressions.UserDefinedFunction,
      children: Seq[catalyst.expressions.Expression])
      : catalyst.expressions.Expression =
    execution.aggregate.ScalaAggregator(
      udaf.asInstanceOf[expressions.UserDefinedAggregator[Any, Any, Any]],
      children)

  /** True when RE-EXECUTING `df`'s plan several times is both STABLE
    * (same rows every time) and CHEAPER than materializing a pinning
    * copy: every leaf is an IN-MEMORY relation (local data / range —
    * re-execution costs nothing), every expression is deterministic,
    * and no subquery can smuggle an unchecked plan in. What it buys:
    * a caller that must evaluate one frame several times (validate,
    * probe, commit — [[graft.ops.Layout.snapshotBranchMerge]] runs
    * ~6 jobs over its update frame) can skip the scratch parquet
    * round-trip for the common driver-built CDC batch. FILE-BACKED
    * deterministic plans deliberately answer false even though
    * re-execution is stable for them too (the file list is captured
    * at construction): measured on the branch-merge bench workload,
    * re-scanning a filter+union source per validation is SLOWER
    * end-to-end than pinning once and re-reading the small scratch
    * copy — ~12% on the round-15 two-commit merge, re-A/B'd at ~5%
    * on the round-16 one-commit merge (one fewer manifest round-trip
    * narrows the gap but does not flip it; both A/Bs are recorded in
    * SCALE.md) — the pin is
    * a cost FLOOR of O(batch), the re-executions cost O(source scan)
    * each. Conservative on everything else: a
    * DSv2 relation, a stream, a subquery, or any nondeterministic
    * expression answers false and the caller pins. */
  def stableReplayablePlan(df: Dataset[_]): Boolean = {
    val plan = df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
    def exprOk(e: catalyst.expressions.Expression): Boolean =
      e.deterministic && !e.exists(
        _.isInstanceOf[catalyst.expressions.SubqueryExpression])
    !plan.isStreaming &&
      plan.collectLeaves().forall {
        case _: catalyst.plans.logical.LocalRelation => true
        case _: catalyst.plans.logical.Range => true
        case _ => false
      } &&
      plan.collect { case p => p }.forall(_.expressions.forall(exprOk))
  }

  /** Schema of a parquet file (or a directory's first data file by name,
    * skipping `_`-staged and hidden files)
    * read from its footer ON THE DRIVER — no Spark job.
    * `spark.read.parquet(path).schema` (and a schemaless
    * `spark.read.parquet(...)`) run parquet schema inference as a
    * one-task Spark JOB per call (`readParquetFootersInParallel`):
    * round 19's stage attribution (OPTIMIZATION_r19.md) showed every
    * snapshot-table open paying 1–2 such jobs at 30–50 ms wall each —
    * pure scheduling overhead for a ~1 ms local footer read, and at
    * 100 TB driver-side jobs do not parallelize
    * (round-19 metadata-plane pass; the scaling block's ≈1.0 ratios).
    * Decoded by inference's own per-footer step: Spark's row schema
    * (`org.apache.spark.sql.parquet.row.metadata`) first, so field
    * metadata survives, else the session-conf schema converter — the
    * inferred schema, before a read relaxes its nullability. */
  def parquetSchemaOf(spark: SparkSession, path: String): types.StructType = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val hconf = cs.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    val file =
      if (!fs.getFileStatus(p).isDirectory) p
      else fs.listStatus(p).iterator
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
          graft.io.DataWriter.isDataFile(s.getPath.getName))
        .map(_.getPath).toSeq.sortBy(_.getName).headOption
        .getOrElse(sys.error(s"parquetSchemaOf: no parquet data file under $p"))
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, hconf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val footer = try reader.getFooter finally reader.close()
    import execution.datasources.parquet._
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file, footer),
      new ParquetToSparkSchemaConverter(cs.sessionState.conf))
  }

  /** A batch parquet scan over files the caller already knows — a
    * snapshot manifest names every data file: the relation
    * `spark.read.schema(schema).parquet(paths: _*)` builds, with each
    * file's status handed to the file index up front. The reader lists
    * its paths again, and above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths
    * it does so in a "Listing leaf files and directories" Spark job. A
    * path that names a directory is listed as the reader lists it. */
  def parquetFiles(spark: SparkSession, paths: Seq[String],
      schema: types.StructType): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    parquetStatuses(spark, paths.map { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(hconf).getFileStatus(path)
    }, schema)
  }

  /** [[parquetFiles]] over statuses the caller already holds, from a
    * listing: no file system call. */
  def parquetStatuses(spark: SparkSession,
      statuses: Seq[org.apache.hadoop.fs.FileStatus],
      schema: types.StructType): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import execution.datasources._
    val cs = spark.asInstanceOf[classic.SparkSession]
    val known = statuses.filter(_.isFile).map(s => s.getPath ->
      Array(new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
        s.getModificationTime, s.getPath))).toMap
    val index = new InMemoryFileIndex(cs, statuses.map(_.getPath), Map.empty,
      Some(schema), new FileStatusCache {
        override def getLeafFiles(p: Path): Option[Array[FileStatus]] = known.get(p)
        def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
        def invalidateAll(): Unit = ()
      })
    // the reader's split: partition columns found in the paths come from
    // the index, the rest of the schema is the data schema, all nullable
    val parts = index.partitionSchema
    val resolver = cs.sessionState.conf.resolver
    val data = types.StructType(
      schema.filterNot(f => parts.exists(p => resolver(p.name, f.name))))
    classic.Dataset.ofRows(cs, LogicalRelation(HadoopFsRelation(index, parts,
      data.asNullable, None, new parquet.ParquetFileFormat, Map.empty)(cs)))
  }

  /** On-disk bytes of the files `df`'s file relations scan, from their
    * file indexes' statuses: no file system call. */
  def scannedFileBytes(df: DataFrame): Long =
    df.queryExecution.analyzed.collectLeaves().collect {
      case execution.datasources.LogicalRelation(
          r: execution.datasources.HadoopFsRelation, _, _, _, _) =>
        r.location.sizeInBytes
    }.sum

  /** The rows of `df`'s executed plan, collected in ONE job (a SQL
    * execution) only while they number at most `maxRows`: each of the
    * plan's n partitions returns its rows when it holds at most
    * maxRows / n of them, so the driver never receives more than
    * `maxRows`. None when a partition held more. Such a partition stops
    * reading after its share; over a persisted frame the job still
    * builds the whole cache, since a cached partition is stored whole
    * before its rows are read. */
  def collectBounded(df: DataFrame, maxRows: Int)
      : Option[Seq[catalyst.InternalRow]] = {
    val qe = df.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val rdd = qe.executedPlan.execute()
      val share = maxRows / math.max(1, rdd.getNumPartitions)
      val parts = rdd.sparkContext.runJob(rdd,
        (it: Iterator[catalyst.InternalRow]) => {
          val taken = it.take(share + 1).map(_.copy()).toArray
          Option.when(taken.length <= share)(taken)
        })
      Option.when(parts.forall(_.isDefined))(parts.toSeq.flatMap(_.get))
    }
  }

  /** `df.collect()` without the conversion to external rows: the
    * executed plan's rows, collected as one SQL execution. The driver
    * holds the tasks' compressed result blocks; the iterator decodes one
    * independent row at a time, so a caller keeps only what it copies
    * out. */
  def collectInternal(df: DataFrame): Iterator[catalyst.InternalRow] = {
    val qe = df.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollectIterator()._2)
  }

  /** Spark's own parquet writer for `schema`, as a write task gets it:
    * the writer factory `ParquetFileFormat.prepareWrite` makes, under
    * `hconf` (a session's Hadoop conf), so codec, footer metadata
    * (Spark's row schema included) and checksum siblings are a write
    * task's. Returns the file name a write task would give the file and
    * a function that writes rows as ONE file at a path, on the calling
    * thread, with no job, committer or `_temporary` directory. A failed
    * write closes the file and rethrows; it does not delete it. */
  def parquetOutput(spark: SparkSession,
      hconf: org.apache.hadoop.conf.Configuration, schema: types.StructType)
      : (String, (String, Iterator[catalyst.InternalRow]) => Unit) = {
    import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID,
      TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val cs = spark.asInstanceOf[classic.SparkSession]
    val job = Job.getInstance(hconf)
    val factory = new execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(cs, job, Map.empty, schema)
    val jobId = java.util.UUID.randomUUID()
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID(jobId.toString.take(8), 0),
        TaskType.MAP, 0), 0))
    val name = s"part-00000-$jobId-c000${factory.getFileExtension(ctx)}"
    (name, (path, rows) => {
      val writer = factory.newInstance(path, schema, ctx)
      try rows.foreach(writer.write)
      catch {
        case t: Throwable =>
          try writer.close() catch { case s: Throwable => t.addSuppressed(s) }
          throw t
      }
      writer.close()
    })
  }

  /** By name, what the `observe(name, …)` nodes in `df`'s CACHED plan
    * collected — final once an action over `df` has ended. Unlike an
    * `Observation`: no listener-bus wait, and no session-wide observation
    * manager (that session field is not serializable, so once set it
    * breaks later closures capturing the session). */
  def cachedObservedMetrics(df: Dataset[_]): Map[String, Row] =
    df.sparkSession.asInstanceOf[classic.SparkSession].sharedState
      .cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .map(c => execution.CollectMetricsExec.collect(
        c.cachedRepresentation.cacheBuilder.cachedPlan))
      .getOrElse(Map.empty)

  /** A parquet scan over an explicit file list, tagged `isStreaming` —
    * what a V1 streaming `Source.getBatch` must return (the engine
    * splices it in place of the streaming relation; a plain batch
    * `spark.read.parquet` would fail the incremental planner). This is
    * `FileStreamSource`'s own construction, reachable only from the sql
    * package: `DataSource.resolveRelation` + `LogicalRelation(...,
    * isStreaming = true)`. Empty file list → empty streaming relation
    * with the given schema (a micro-batch whose versions were all
    * compaction rewrites carries zero rows, not an error). */
  def parquetFilesAsStreaming(spark: SparkSession, paths: Seq[String],
      schema: types.StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (paths.isEmpty)
      cs.internalCreateDataFrame(
        cs.sparkContext.emptyRDD[catalyst.InternalRow], schema,
        isStreaming = true)
    else {
      val ds = execution.datasources.DataSource(cs, paths = paths,
        userSpecifiedSchema = Some(schema), className = "parquet")
      classic.Dataset.ofRows(cs, execution.datasources.LogicalRelation(
        ds.resolveRelation(checkFilesExist = false), isStreaming = true))
    }
  }
}

/** Derives a sibling session carrying [[graft.GraftExtensions]] from any
  * existing session (same `SparkContext`, session conf copied). Parser
  * injection is the ONE extension point with no runtime registration
  * path — `sessionState.sqlParser` is fixed at session build — so a
  * session we did not construct (the driver's) reaches the `ASOF JOIN`
  * SQL syntax through this bridge. Built with the public
  * `Builder.withExtensions` path: the default/active session slots are
  * cleared for the duration of `getOrCreate` (else it would return the
  * base session unchanged) and restored after, so the caller's session
  * remains the process default. Memoized per SparkContext.
  *
  * Conf semantics: the sibling's conf is NOT a one-time snapshot — on
  * every call the base session's current RUNTIME conf is re-synced onto
  * the sibling (modifiable keys whose values differ, e.g. a
  * `spark.sql.session.timeZone` flipped after first use — timezone skew
  * would otherwise silently corrupt epoch-micros outputs). Static confs
  * are fixed at sibling build, as they are for any session.
  *
  * Thread-safety: the `synchronized` block guards the bridge's own
  * state only. The process-global default/active session slots are
  * empty for the duration of the inner `getOrCreate`; an UNRELATED
  * thread racing `SparkSession.builder().getOrCreate()` (or reading
  * `getDefaultSession`) in that window can observe no session and build
  * a stray one. That is acceptable for this bridge's use (bench/verify
  * harnesses calling from one driver thread at a time); do not call it
  * concurrently with session construction elsewhere.
  */
object GraftSessionBridge {
  @volatile private var cached: SparkSession = _

  def withGraftExtensions(base: SparkSession): SparkSession = {
    val c = base.asInstanceOf[classic.SparkSession]
    if (c.sessionState.sqlParser.isInstanceOf[graft.plans.GraftSqlParser]) c
    else synchronized {
      if (cached == null || cached.sparkContext != c.sparkContext) {
        val active = classic.SparkSession.getActiveSession
        val default = classic.SparkSession.getDefaultSession
        try {
          classic.SparkSession.clearActiveSession()
          classic.SparkSession.clearDefaultSession()
          val b = classic.SparkSession.builder()
            .withExtensions(new graft.GraftExtensions)
          c.conf.getAll.foreach { case (k, v) => b.config(k, v) }
          cached = b.getOrCreate()
        } finally {
          default.foreach(classic.SparkSession.setDefaultSession)
          active.foreach(classic.SparkSession.setActiveSession)
        }
      }
      // re-sync mutable confs changed on the base since the last call
      c.conf.getAll.foreach { case (k, v) =>
        if (cached.conf.getOption(k) != Some(v) && cached.conf.isModifiable(k))
          cached.conf.set(k, v)
      }
      cached
    }
  }
}

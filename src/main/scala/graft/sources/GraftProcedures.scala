package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Layout

/** SQL doors for the snapshot format's MAINTENANCE verbs — Spark 4's
  * native `CALL` statement over the DSv2 [[org.apache.spark.sql
  * .connector.catalog.ProcedureCatalog]] API, served by
  * [[GraftCatalog]] under the `system` namespace:
  *
  * {{{
  *   CALL graft.system.compact('db.t')       -- Layout.snapshotCompact
  *   CALL graft.system.maintain('db.t')      -- Layout.snapshotMaintain
  *   CALL graft.system.expire('db.t', 5)     -- Layout.snapshotExpire
  *   CALL graft.system.tag('db.t', 'release-1')     -- Layout.snapshotTag
  *   CALL graft.system.drop_tag('db.t', 'release-1')
  *   CALL graft.system.restore('db.t', '3')          -- version number
  *   CALL graft.system.restore('db.t', 'release-1')  -- or tag name
  *   CALL graft.system.branch('db.t', 'audit')   -- Layout.snapshotBranch
  *   CALL graft.system.fast_forward('db.t', 'audit')  -- publish (WAP)
  *   CALL graft.system.rebase('db.t', 'audit')    -- re-target at HEAD
  *   CALL graft.system.drop_branch('db.t', 'audit')   -- walk away
  *   CALL graft.system.cluster('db.t', 'k')     -- 1-D range recluster
  *   CALL graft.system.zorder('db.t', 'xb', 'yb')   -- 2-D Morton
  * }}}
  *
  * This closes the SQL story the catalog's own refusals point at: a
  * read over a live merge-on-read overlay (or mixed rename
  * generations) says "run snapshotCompact to materialize" — now a
  * SQL-only session CAN, with `CALL <cat>.system.compact(...)`, and
  * the rollback after a bad MERGE is one `CALL … restore(...)` away.
  * Each procedure returns a one-row result set describing what
  * happened (committed version, expired count, …), the same values
  * the Scala API returns. */
private[sources] object GraftProcedures {

  /** One procedure: unbound and bound in one object (binding needs no
    * input-schema specialization — Spark coerces arguments to the
    * declared parameter types before `call`). Side-effecting, hence
    * non-deterministic by contract. */
  private final class Proc(
      procName: String, desc: String,
      params: Array[ProcedureParameter],
      outSchema: StructType,
      body: InternalRow => Seq[InternalRow])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val result = body(input).toArray
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def readSchema(): StructType = outSchema
        override def rows(): Array[InternalRow] = result
      }).iterator()
    }
  }

  private def in(name: String, t: DataType): ProcedureParameter =
    ProcedureParameter.in(name, t).build()
  private def inDefault(name: String, t: DataType,
      defaultSql: String): ProcedureParameter =
    ProcedureParameter.in(name, t).defaultValue(defaultSql).build()
  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** The procedure set, built against a catalog's identifier→directory
    * resolution (`dirOf("db.t")`). `spark` is resolved per call — a
    * procedure outlives the session that loaded it. */
  def all(catalogName: String,
      dirOf: String => String): Seq[UnboundProcedure] = {
    def spark: SparkSession = SparkSession.active
    def tableDir(input: InternalRow): String = {
      val table = input.getUTF8String(0).toString
      val dir = dirOf(table)
      require(Layout.snapshotLatestVersion(spark, dir).isDefined,
        s"catalog $catalogName: '$table' is not a committed snapshot " +
          s"table under this catalog's root (resolved to $dir)")
      dir
    }
    Seq(
      new Proc("compact",
        "rewrite the newest snapshot into target-size files, " +
          "materializing any live delete overlay and rename log " +
          "(Layout.snapshotCompact)",
        Array(in("table", StringType),
          inDefault("target_bytes", LongType, (128L << 20).toString)),
        StructType(Seq(StructField("version", LongType, nullable = false))),
        input => Seq(InternalRow(Layout.snapshotCompact(spark,
          tableDir(input), targetBytes = input.getLong(1))))),

      new Proc("maintain",
        "policy maintenance: compact when small files accumulate or an " +
          "overlay is live (declared clustering re-applied), then expire " +
          "aged history (Layout.snapshotMaintain)",
        Array(in("table", StringType),
          inDefault("keep_age_ms", LongType,
            (7L * 24 * 3600 * 1000).toString),
          inDefault("orphan_grace_ms", LongType,
            (24L * 3600 * 1000).toString)),
        StructType(Seq(StructField("compacted", BooleanType, false),
          StructField("expired", IntegerType, false))),
        input => {
          val (compacted, expired) = Layout.snapshotMaintain(spark,
            tableDir(input), keepAgeMs = input.getLong(1),
            orphanGraceMs = input.getLong(2))
          Seq(InternalRow(compacted, expired))
        }),

      new Proc("expire",
        "drop all but the newest `keep` snapshots (tagged versions are " +
          "exempt) and sweep unreferenced data (Layout.snapshotExpire)",
        Array(in("table", StringType), in("keep", IntegerType),
          inDefault("orphan_grace_ms", LongType,
            (24L * 3600 * 1000).toString)),
        StructType(Seq(StructField("removed", IntegerType, false))),
        input => Seq(InternalRow(Layout.snapshotExpire(spark,
          tableDir(input), keep = input.getInt(1),
          orphanGraceMs = input.getLong(2))))),

      new Proc("tag",
        "pin a version under a durable, retention-exempt name " +
          "(Layout.snapshotTag); default = the latest version",
        Array(in("table", StringType), in("name", StringType),
          inDefault("version", LongType, "-1")),
        StructType(Seq(StructField("version", LongType, false))),
        input => Seq(InternalRow(Layout.snapshotTag(spark,
          tableDir(input), input.getUTF8String(1).toString,
          input.getLong(2))))),

      new Proc("drop_tag",
        "drop a tag; the pinned version becomes expirable again " +
          "(Layout.snapshotDropTag)",
        Array(in("table", StringType), in("name", StringType)),
        StructType(Seq(StructField("existed", BooleanType, false))),
        input => Seq(InternalRow(Layout.snapshotDropTag(spark,
          tableDir(input), input.getUTF8String(1).toString)))),

      new Proc("restore",
        "metadata-only rollback: re-point the table HEAD at a prior " +
          "version (numeric) or tagged release (Layout.snapshotRestore)",
        Array(in("table", StringType), in("version", StringType)),
        StructType(Seq(StructField("restored_to", LongType, false),
          StructField("version", LongType, false))),
        input => {
          val dir = tableDir(input)
          val target = input.getUTF8String(1).toString
          // resolve a tag to its version ONCE, up front: re-resolving
          // after the restore committed would let a concurrent
          // drop_tag throw post-commit, and a racing re-tag report a
          // version other than the one actually restored
          val restoredTo = target.toLongOption.getOrElse {
            val tags = Layout.snapshotTags(spark, dir)
            tags.getOrElse(target, sys.error(
              s"restore: no tag '$target' at $dir (live tags: " +
                s"${tags.keys.toSeq.sorted.mkString(", ")})"))
          }
          val committed = Layout.snapshotRestore(spark, dir, restoredTo)
          Seq(InternalRow(restoredTo, committed))
        }),

      new Proc("branch",
        "create a writable staging branch at the table's current HEAD " +
          "— the write-audit-publish stage ref (Layout.snapshotBranch)",
        Array(in("table", StringType), in("name", StringType)),
        StructType(Seq(StructField("base_version", LongType, false))),
        input => Seq(InternalRow(Layout.snapshotBranch(spark,
          tableDir(input), input.getUTF8String(1).toString)))),

      new Proc("fast_forward",
        "publish a branch: fast-forward main to the branch tip as one " +
          "metadata-only commit; refuses on a diverged main " +
          "(Layout.snapshotFastForward)",
        Array(in("table", StringType), in("name", StringType)),
        StructType(Seq(StructField("version", LongType, false))),
        input => Seq(InternalRow(Layout.snapshotFastForward(spark,
          tableDir(input), input.getUTF8String(1).toString)))),

      new Proc("rebase",
        "re-base a staging branch onto main's current HEAD as one " +
          "metadata-only branch commit (carrying the unpublished " +
          "stage), so the next fast_forward accepts a main that moved " +
          "since staging began (Layout.snapshotRebase)",
        Array(in("table", StringType), in("name", StringType)),
        StructType(Seq(StructField("branch_version", LongType, false))),
        input => Seq(InternalRow(Layout.snapshotRebase(spark,
          tableDir(input), input.getUTF8String(1).toString)))),

      new Proc("cluster",
        "one-shot physical re-clustering: rewrite the newest snapshot " +
          "range-partitioned and sorted by the given columns (csv), so " +
          "stats-pruned range reads touch only intersecting files " +
          "(Layout.snapshotCompact clusterBy); for the POLICY that " +
          "re-applies on every maintenance pass, declare " +
          "TBLPROPERTIES ('graft.cluster' = ...) instead",
        Array(in("table", StringType), in("columns", StringType),
          inDefault("target_bytes", LongType, (128L << 20).toString)),
        StructType(Seq(StructField("version", LongType, false))),
        input => {
          val cols = input.getUTF8String(1).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          require(cols.nonEmpty,
            "cluster: 'columns' must name at least one column")
          Seq(InternalRow(Layout.snapshotCompact(spark, tableDir(input),
            targetBytes = input.getLong(2), clusterBy = cols)))
        }),

      new Proc("zorder",
        "one-shot 2-D Morton (Z-order) re-clustering: rewrite the " +
          "newest snapshot ordered by the interleaved bits of two " +
          "bucketized columns, so box predicates on EITHER column " +
          "prune (Layout.snapshotCompact zorderBy; 16-bit bucket " +
          "contract — bucketize wider domains first)",
        Array(in("table", StringType), in("x", StringType),
          in("y", StringType),
          inDefault("target_bytes", LongType, (128L << 20).toString)),
        StructType(Seq(StructField("version", LongType, false))),
        input => Seq(InternalRow(Layout.snapshotCompact(spark,
          tableDir(input), targetBytes = input.getLong(3),
          zorderBy = Some((input.getUTF8String(1).toString,
            input.getUTF8String(2).toString)))))),

      new Proc("drop_branch",
        "drop a branch; unpublished staged data ages into the orphan " +
          "sweep (Layout.snapshotDropBranch)",
        Array(in("table", StringType), in("name", StringType)),
        StructType(Seq(StructField("existed", BooleanType, false))),
        input => Seq(InternalRow(Layout.snapshotDropBranch(spark,
          tableDir(input), input.getUTF8String(1).toString)))))
  }
}

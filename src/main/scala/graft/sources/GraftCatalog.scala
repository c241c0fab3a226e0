package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Column, Identifier, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Layout

/** DSv2 `TableCatalog` over the snapshot table format — the SQL-text
  * front door the TVFs ([[graft.plans.SnapshotTvf]]) could not provide:
  * named tables instead of path literals, and WRITES.
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.root", "/data/warehouse")
  *
  *   CREATE TABLE graft.db.t (k BIGINT, s STRING)
  *     TBLPROPERTIES ('graft.key' = 'k')      -- declared key contract
  *   INSERT INTO graft.db.t SELECT ...        -- snapshotAppend commit
  *   INSERT OVERWRITE graft.db.t SELECT ...   -- snapshotCommit rewrite
  *   DELETE FROM graft.db.t WHERE k < 10      -- snapshotDeleteWhere
  *   UPDATE graft.db.t SET s = upper(s) WHERE k < 10
  *                                 -- snapshotUpdateWhere (extensions)
  *   MERGE INTO graft.db.t t USING src s ON t.k = s.k
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *
  *                                   -- snapshotMergeInto (extensions)
  *   ALTER TABLE graft.db.t ADD COLUMNS (x INT)      -- snapshotEvolve
  *   ALTER TABLE graft.db.t RENAME COLUMN s TO txt   -- snapshotRename
  *   ALTER TABLE graft.db.t DROP COLUMN x        -- snapshotDropColumns
  *   ALTER TABLE graft.db.t ALTER COLUMN k TYPE BIGINT -- snapshotRetype
  *   ALTER TABLE graft.db.t SET TBLPROPERTIES ('graft.cluster' = 'k')
  *                            -- declare keys / clustering on a live table
  *   ALTER TABLE graft.db.t RENAME TO db.t2   -- one filesystem rename
  *   SELECT * FROM graft.db.t                 -- latest snapshot
  *   SELECT * FROM graft.db.t VERSION AS OF 3 -- time travel
  *   SELECT * FROM graft.db.t VERSION AS OF 'release-1'  -- tagged release
  *   SELECT * FROM graft.db.t TIMESTAMP AS OF '2026-08-01 00:00:00'
  *   CALL graft.system.branch('db.t', 'audit')    -- WAP: stage ref
  *   INSERT INTO graft.db.`t@audit` SELECT ...    -- stage on the branch
  *   SELECT * FROM graft.db.`t@audit`             -- audit the staged tip
  *   CALL graft.system.fast_forward('db.t', 'audit')  -- publish
  * }}}
  *
  * With `graft.key` declared (carried as `graft.key` flags in the
  * schema of record — surviving evolves, renames, and retypes), the
  * SQL UPDATE / DELETE doors automatically persist typed-feed cdc
  * records, so downstream incremental consumers replay them row-level
  * instead of recomputing.
  *
  * An identifier `db.t` maps to the directory `<root>/db/t`; the table
  * IS the directory, exactly as the Scala API sees it — both doors hit
  * the same manifest commit machinery, so optimistic concurrency,
  * schema checks, stats carry-forward and the change feeds behave
  * identically regardless of which API wrote.
  *
  * Reads delegate to Spark's own parquet DSv2 table over the pinned
  * manifest's FILE LIST (schema of record applied), so column pruning,
  * predicate pushdown and vectorized decode are the stock parquet
  * path — the catalog adds only the version resolution. A table
  * carrying a LIVE merge-on-read delete overlay (or files predating a
  * rename) cannot be served by that plain scan: in an extensions
  * session ([[graft.GraftExtensions]]) the resolution rule
  * [[graft.plans.SnapshotOverlayReadRule]] transparently swaps such
  * reads for the overlay-aware `snapshotRead` plan, so SQL SELECTs
  * keep answering while a takedown is in flight; without extensions
  * the honest refusal stands — run `snapshotCompact` /
  * `snapshotMaintain` to materialize, or read through
  * `Tables.snapshot`/`snapshot_read`.
  *
  * Writes use the V1 fallback ([[V1Write]] → [[InsertableRelation]]):
  * the insert body is a plain `DataFrame`, handed to
  * [[Layout.snapshotAppend]] (append) or [[Layout.snapshotCommit]]
  * (overwrite) — one code path with the programmatic API, not a
  * parallel implementation. `UPDATE` and `MERGE INTO` need the
  * extensions session ([[graft.GraftExtensions]] /
  * `GraftSessionBridge`): their parsed plans are intercepted at
  * resolution ([[graft.plans.SnapshotUpdateRule]],
  * [[graft.plans.SnapshotMergeRule]]) and routed into
  * [[Layout.snapshotUpdateWhere]] / [[Layout.snapshotMergeInto]].
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name: set spark.sql.catalog.$name.root to the " +
          "warehouse directory holding the snapshot tables"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  /** Strict boolean parse for `graft.cdc.updateImages` — a typo'd
    * value must refuse at DDL time, not silently default. */
  private def parseCdcImagesValue(v: String): Boolean =
    v.trim.toLowerCase(java.util.Locale.ROOT) match {
      case "true"  => true
      case "false" => false
      case other => throw new IllegalArgumentException(
        s"catalog $catalogName: graft.cdc.updateImages must be 'true' " +
          s"or 'false', got '$other'")
    }

  private def dirOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name())
      .foldLeft(new Path(root))(new Path(_, _)).toString

  private def exists(ident: Identifier): Boolean =
    Layout.snapshotLatestVersion(spark, dirOf(ident)).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = namespace.foldLeft(new Path(root))(new Path(_, _))
    val fs = ns.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(ns).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => Layout.snapshotLatestVersion(
        spark, new Path(ns, n).toString).isDefined)
      .map(Identifier.of(namespace, _))
  }

  /** `t@<branch>` in the table position resolves a BRANCH read/stage
    * handle (quote it: `SELECT … FROM cat.db.\`t@audit\``) — the
    * SQL-only audit-and-staging door of write-audit-publish. The
    * `@` split happens here, not in a parser extension, so every SQL
    * surface that names tables (SELECT, INSERT INTO, SHOW) gets it. */
  override def loadTable(ident: Identifier): Table = {
    val n = ident.name()
    val at = n.lastIndexOf('@')
    if (at <= 0) loadVersioned(ident, -1L)
    else {
      val base = Identifier.of(ident.namespace(), n.substring(0, at))
      val br = n.substring(at + 1)
      if (!exists(base)) throw new NoSuchTableException(base)
      val dir = dirOf(base)
      // one branch-dir listing answers existence; the full
      // all-branches inventory (a per-branch manifest probe) is paid
      // only on the failure path, for the error message
      require(Layout.snapshotBranchExists(spark, dir, br),
        s"catalog $catalogName: no branch '$br' on table " +
          s"'${base.name()}' — create it with " +
          s"CALL $catalogName.system.branch(...) (live branches: " +
          s"${Layout.snapshotBranches(spark, dir)
            .keys.toSeq.sorted.mkString(", ")})")
      new GraftSnapshotTable(ident.toString, dir, -1L, Some(br))
    }
  }

  private def refuseBranchTimeTravel(ident: Identifier): Unit =
    require(!ident.name().contains('@'),
      s"catalog $catalogName: time travel on a branch read " +
        s"('${ident.name()}') is not supported — branches serve their " +
        "tip; pin main versions instead")

  /** `VERSION AS OF <v>` (DSv2 passes the literal as a string) — a
    * number reads that snapshot version; any other string resolves as
    * a TAG name ([[Layout.snapshotTag]]), so
    * `VERSION AS OF 'release-2026-08'` reads the pinned corpus. */
  override def loadTable(ident: Identifier, version: String): Table = {
    refuseBranchTimeTravel(ident)
    loadVersioned(ident,
      version.toLongOption.orElse(
        Layout.snapshotTags(spark, dirOf(ident)).get(version))
        .getOrElse(throw new IllegalArgumentException(
          s"catalog $catalogName: VERSION AS OF wants a numeric " +
            s"snapshot version or a live tag name, got '$version' " +
            s"(tags: ${Layout.snapshotTags(spark, dirOf(ident))
              .keys.toSeq.sorted.mkString(", ")})")))
  }

  /** `TIMESTAMP AS OF <ts>` (micros since epoch). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    refuseBranchTimeTravel(ident)
    val dir = dirOf(ident)
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val v = Layout.snapshotVersionAsOf(spark, dir, timestamp / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"catalog $catalogName: no snapshot of $ident committed at or " +
          "before the asked-for instant (history expired, or the table " +
          "is newer)"))
    loadVersioned(ident, v)
  }

  private def loadVersioned(ident: Identifier, version: Long): Table = {
    val dir = dirOf(ident)
    if (!exists(ident)) throw new NoSuchTableException(ident)
    new GraftSnapshotTable(ident.toString, dir, version)
  }

  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      s"catalog $catalogName: PARTITIONED BY is not supported — the " +
        "snapshot format clusters by commit (append = natural time " +
        "clustering; zorderWrite for multi-dim)")
    require(!ident.name().contains('@'),
      s"catalog $catalogName: '@' in a table name is reserved for " +
        "branch reads (t@branch)")
    if (exists(ident)) throw new TableAlreadyExistsException(
      (ident.namespace() :+ ident.name()).toSeq)
    // TBLPROPERTIES ('graft.key' = 'col[,col…]') declares the table's
    // key contract: the flags ride the schema of record, and the SQL
    // UPDATE / DELETE doors then record typed-feed cdc automatically.
    // TBLPROPERTIES ('graft.cluster' = 'col[,col…]') declares the
    // physical ORDER maintenance re-applies on every compaction
    // (Layout.snapshotMaintain / ClusterPosKey).
    def colsProp(name: String): Seq[String] = {
      val cols = Option(properties.get(name))
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      cols.foreach(k => require(
        columns.exists(_.name().equalsIgnoreCase(k)),
        s"catalog $catalogName: $name column '$k' is not a table column"))
      cols
    }
    val keySet = colsProp("graft.key")
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val clusterPos = colsProp("graft.cluster").zipWithIndex
      .map { case (c, i) => c.toLowerCase(java.util.Locale.ROOT) -> i }
      .toMap
    // TBLPROPERTIES ('graft.cdc.updateImages' = 'true'|'false')
    // declares the SQL doors' update pre-image policy (rides the
    // schema of record on every field — Layout.CdcImagesKey)
    val cdcImages = Option(properties.get("graft.cdc.updateImages"))
      .map(parseCdcImagesValue)
    val schema = new StructType(columns.map { c =>
      val lower = c.name().toLowerCase(java.util.Locale.ROOT)
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      if (keySet.contains(lower)) mb.putBoolean("graft.key", true)
      clusterPos.get(lower).foreach(p =>
        mb.putLong("graft.cluster.pos", p.toLong))
      cdcImages.foreach(b =>
        mb.putBoolean(Layout.CdcImagesKey, b))
      org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable(), mb.build())
    })
    // an empty evolve commit records the schema of record, so the table
    // exists with zero rows and every later insert is schema-checked;
    // the DECLARED door keeps the TBLPROPERTIES policy flags a plain
    // first snapshotEvolve would strip (Layout.snapshotCreate)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    Layout.snapshotCreate(empty, dirOf(ident))
    loadTable(ident)
  }

  /** `ALTER TABLE … RENAME COLUMN a TO b` → [[Layout.snapshotRename]]
    * (metadata-only field-ID rename commit), `ALTER TABLE … ADD
    * COLUMNS (…)` → [[Layout.snapshotEvolve]] (null-backfilled widen),
    * `ALTER TABLE … DROP COLUMN c` → [[Layout.snapshotDropColumns]]
    * (metadata-only; field-ID tombstone prevents a later same-named
    * re-add from resurrecting old on-disk values), and `ALTER TABLE …
    * ALTER COLUMN c TYPE t` → [[Layout.snapshotRetype]] (metadata-only
    * lossless widening) — the SQL DDL door onto the same evolution
    * commits the Scala API makes. Non-widening retypes refuse,
    * matching the format's contract (they need a full rewrite). */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    // `ALTER TABLE cat.db.`t@branch``: STAGED schema evolution (round
    // 15) — ADD COLUMNS lands as a branch-namespace evolve commit
    // ([[Layout.snapshotBranchEvolve]]), invisible to main until the
    // fast-forward publishes the ALTER + its backfill atomically.
    // Only ADD stages: a rename/drop/retype changes how the STAGED
    // bytes resolve (and main's, which a branch must not touch) —
    // land those on main and rebase; TBLPROPERTIES are table-level
    // policy, not stageable work.
    val atPos = ident.name().lastIndexOf('@')
    if (atPos > 0) {
      val base = Identifier.of(ident.namespace(),
        ident.name().substring(0, atPos))
      val br = ident.name().substring(atPos + 1)
      if (!exists(base)) throw new NoSuchTableException(base)
      val bdir = dirOf(base)
      require(Layout.snapshotBranchExists(spark, bdir, br),
        s"catalog $catalogName: no branch '$br' on table " +
          s"'${base.name()}' — create it with " +
          s"CALL $catalogName.system.branch(...)")
      val adds = changes.collect { case a: TableChange.AddColumn => a }
      // RENAME COLUMN stages too (round 17): the migration shape
      // "rename + fix consumers + publish atomically" — main serves
      // the OLD name until the fast-forward ships the rename with the
      // loads staged under the new one
      val rens = changes.collect {
        case r: TableChange.RenameColumn =>
          require(r.fieldNames().length == 1,
            s"catalog $catalogName: only top-level columns can be " +
              "renamed on a branch — nested renames are refused " +
              "everywhere (see the main-identifier ALTER contract)")
          r.fieldNames().head -> r.newName()
      }
      // ALTER COLUMN TYPE stages too (round 18): a lossless widening
      // is metadata-only everywhere (q130 — narrow parquet decodes
      // under the wider type natively), so staging it costs nothing
      // and the loads staged under the wider type publish with it
      val rets = changes.collect {
        case t: TableChange.UpdateColumnType =>
          require(t.fieldNames().length == 1,
            s"catalog $catalogName: only top-level columns can be " +
              "retyped on a branch — nested retypes are refused " +
              "everywhere (see the main-identifier ALTER contract)")
          t.fieldNames().head -> t.newDataType()
      }
      require(adds.size + rens.size + rets.size == changes.size &&
        (adds.nonEmpty || rens.nonEmpty || rets.nonEmpty),
        s"catalog $catalogName: only ADD COLUMNS, RENAME COLUMN, and " +
          "ALTER COLUMN TYPE (lossless widening) can be STAGED on a " +
          "branch — a DROP changes how already-staged bytes resolve " +
          "irreversibly; land it on main (then CALL system.rebase), " +
          "and set TBLPROPERTIES on the main identifier")
      require(Seq(adds.nonEmpty, rens.nonEmpty, rets.nonEmpty)
          .count(identity) <= 1,
        s"catalog $catalogName: one staged ALTER statement = one " +
          "branch commit — stage ADD COLUMNS, RENAME COLUMN, and " +
          "ALTER COLUMN TYPE as separate statements")
      if (rens.nonEmpty) Layout.snapshotBranchRename(spark, bdir, br,
        rens.toMap)
      else if (rets.nonEmpty) Layout.snapshotBranchRetype(spark, bdir,
        br, rets.toMap)
      else {
        val widened = widenWithAdds(
          Layout.snapshotBranchRead(spark, bdir, br).schema, adds)
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], widened)
        Layout.snapshotBranchEvolve(empty, bdir, br)
      }
      return loadTable(ident)
    }
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident)
    // Nested evolution, the pinned line: ADD inside a struct is REAL
    // (parquet's by-name resolution null-fills a missing nested field
    // exactly like a missing column — metadata-only, Layout
    // .snapshotEvolve); rename/retype/drop inside a struct stay
    // REFUSED by design, not omission: they would need nested field
    // IDs plus a per-generation struct REBUILD projection in every
    // read (the rename log resolves top-level names with flat
    // aliases, which Catalyst sees through — a struct rebuilt with
    // struct() is opaque to nested-column pruning), taxing every
    // query forever to spare one rewrite. The remedy is the one-time
    // full rewrite of the reshaped frame (Layout.snapshotCommit).
    def nestedRefusal(what: String): String =
      s"catalog $catalogName: only top-level columns can be $what — " +
        "inside a struct, only ADD COLUMNS evolves in place; a nested " +
        s"$what would need per-generation struct-rebuild projections " +
        "that defeat nested-column pruning on every read. Evolve the " +
        "struct by full rewrite (Layout.snapshotCommit of the " +
        "reshaped frame)"
    val renames = changes.collect {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1, nestedRefusal("renamed"))
        r.fieldNames().head -> r.newName()
    }
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val retypes = changes.collect {
      case t: TableChange.UpdateColumnType =>
        require(t.fieldNames().length == 1, nestedRefusal("retyped"))
        t.fieldNames().head -> t.newDataType()
    }
    val drops = changes.collect {
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1, nestedRefusal("dropped"))
        d.fieldNames().head
    }
    // ALTER TABLE … SET/UNSET TBLPROPERTIES for the two declarations:
    // 'graft.key' → snapshotDeclareKeys, 'graft.cluster' →
    // snapshotDeclareCluster (UNSET clears the clustering order; keys
    // cannot be silently un-declared — downstream cdc consumers depend
    // on them, re-declare explicitly instead)
    val declared = Seq("graft.key", "graft.cluster",
      "graft.cdc.updateImages")
    val unsettable = Seq("graft.cluster", "graft.cdc.updateImages")
    val props = changes.collect {
      case p: TableChange.SetProperty =>
        require(declared.contains(p.property()),
          s"catalog $catalogName: only TBLPROPERTIES " +
            s"${declared.mkString(", ")} can be altered, got " +
            s"'${p.property()}'")
        p.property() -> Some(p.value())
      case r: TableChange.RemoveProperty =>
        require(unsettable.contains(r.property()),
          s"catalog $catalogName: only ${unsettable.mkString(", ")} " +
            "can be UNSET (un-declaring keys would orphan cdc " +
            "consumers — re-declare explicitly)")
        r.property() -> None
    }
    require(renames.size + adds.size + retypes.size + drops.size
        + props.size == changes.size,
      s"catalog $catalogName: only RENAME COLUMN, ADD COLUMNS, DROP " +
        "COLUMN, ALTER COLUMN TYPE (lossless widening), and SET/UNSET " +
        "TBLPROPERTIES (graft.key / graft.cluster) are supported — " +
        "narrowings need a full rewrite (Layout.snapshotCommit)")
    // one ALTER statement = ONE atomic evolution commit. Each change
    // category lands as its own optimistic manifest commit (rename /
    // retype / drop / declare / evolve are separate Layout entry
    // points), so a statement mixing categories would commit them as a
    // SEQUENCE — a mid-sequence failure leaves the table half-altered
    // with no rollback, and one statement would burn several history
    // versions. Refuse the mix; within one category multiple changes
    // still fold into a single commit (snapshotRename takes a map,
    // ADD COLUMNS one evolve, DROP COLUMN one tombstone commit).
    val categories = Seq(
      "RENAME COLUMN" -> renames.size, "ADD COLUMNS" -> adds.size,
      "ALTER COLUMN TYPE" -> retypes.size, "DROP COLUMN" -> drops.size)
      .filter(_._2 > 0).map(_._1) ++
      props.map { case (p, v) =>
        s"${if (v.isDefined) "SET" else "UNSET"} TBLPROPERTIES ('$p')" }
    require(categories.size <= 1,
      s"catalog $catalogName: one ALTER TABLE statement must carry ONE " +
        s"change kind, got ${categories.mkString(" + ")} — each kind is " +
        "its own atomic commit, so a mix would apply as a sequence " +
        "with no rollback on mid-sequence failure; split into one " +
        "statement per kind")
    if (renames.nonEmpty) Layout.snapshotRename(spark, dir, renames.toMap)
    if (retypes.nonEmpty) Layout.snapshotRetype(spark, dir, retypes.toMap)
    if (drops.nonEmpty) Layout.snapshotDropColumns(spark, dir, drops)
    props.foreach {
      case ("graft.key", Some(v)) => Layout.snapshotDeclareKeys(spark,
        dir, v.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      case ("graft.cluster", v) => Layout.snapshotDeclareCluster(spark,
        dir, v.toSeq.flatMap(_.split(',').map(_.trim).filter(_.nonEmpty)))
      case ("graft.cdc.updateImages", v) =>
        Layout.snapshotDeclareCdcImages(spark, dir,
          v.map(parseCdcImagesValue))
      case _ => ()
    }
    if (adds.nonEmpty) {
      val widened = widenWithAdds(
        Layout.snapshotRead(spark, dir).schema, adds)
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], widened)
      Layout.snapshotEvolve(empty, dir)
    }
    loadTable(ident)
  }

  /** Append `field` under `path` (empty = top level), recursing
    * through struct columns at ANY depth — parquet's by-name
    * resolution null-fills a missing nested field recursively, so
    * depth costs nothing (the evolve check, isStructAddWidening,
    * is recursive to match). Shared by the main-side ALTER ADD and
    * the branch-staged one. */
  private def addAt(sch: org.apache.spark.sql.types.StructType,
      path: Seq[String], dotted: String,
      field: org.apache.spark.sql.types.StructField)
      : org.apache.spark.sql.types.StructType = path match {
    case Seq() =>
      require(!sch.fields.exists(_.name.equalsIgnoreCase(field.name)),
        s"catalog $catalogName: '$dotted' already exists")
      org.apache.spark.sql.types.StructType(sch.fields :+ field)
    case head +: rest =>
      val pf = sch.fields.find(_.name.equalsIgnoreCase(head))
        .getOrElse(sys.error(s"catalog $catalogName: no column " +
          s"'$head' to add '$dotted' into"))
      val st = pf.dataType match {
        case s: org.apache.spark.sql.types.StructType => s
        case other => sys.error(s"catalog $catalogName: column " +
          s"'$head' is ${other.catalogString}, not a struct — " +
          "nested ADD targets struct columns")
      }
      org.apache.spark.sql.types.StructType(sch.fields.map(f =>
        if (f eq pf)
          pf.copy(dataType = addAt(st, rest, dotted, field))
        else f))
  }

  private def widenWithAdds(base: org.apache.spark.sql.types.StructType,
      adds: Seq[TableChange.AddColumn])
      : org.apache.spark.sql.types.StructType =
    adds.foldLeft(base) { (sch, a) =>
      addAt(sch, a.fieldNames().init.toSeq,
        a.fieldNames().mkString("."),
        org.apache.spark.sql.types.StructField(
          a.fieldNames().last, a.dataType(), a.isNullable))
    }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(dirOf(ident))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    exists(ident) && fs.delete(p, true)
  }

  /** `ALTER TABLE a RENAME TO b` as ONE filesystem rename: every path a
    * manifest records is relative to the table directory (data files,
    * delete-key files, cdc records), so moving the directory moves the
    * table whole — history, time travel, and change feeds intact. The
    * move is atomic exactly where the filesystem's rename is (posix,
    * HDFS); a concurrent writer still committing to the OLD path races
    * the move like any external relocation would — quiesce writers
    * first, as every table format's move/clone procedure asks. */
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    if (!exists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (exists(newIdent)) throw new TableAlreadyExistsException(
      (newIdent.namespace() :+ newIdent.name()).toSeq)
    val from = new Path(dirOf(oldIdent))
    val to = new Path(dirOf(newIdent))
    val fs = from.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the committed-snapshot check above is not enough: if the
    // destination PATH exists in any form (a namespace directory, a
    // torn CREATE's leftover), Hadoop's rename moves the source INTO
    // it and returns true — the table would silently land at
    // <to>/<oldName>, unreachable under both identifiers. Fail loudly
    // on any existing destination instead.
    require(!fs.exists(to),
      s"catalog $catalogName: destination path $to already exists " +
        s"(not a committed table — a namespace directory or a failed " +
        "CREATE's leftover); a filesystem rename would nest the table " +
        "INSIDE it. Remove the obstruction first.")
    fs.mkdirs(to.getParent)
    require(fs.rename(from, to),
      s"catalog $catalogName: filesystem refused the rename " +
        s"$oldIdent -> $newIdent")
  }

  override def tableExists(ident: Identifier): Boolean = exists(ident)

  // ------------------------------------------ maintenance procedures
  // Spark 4's native `CALL <cat>.system.<proc>(...)` — the SQL door
  // for the maintenance verbs the catalog's own refusal remedies name
  // ("run snapshotCompact"), plus RESTORE. See [[GraftProcedures]].

  private lazy val procedures: Map[String,
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure] =
    GraftProcedures.all(catalogName, table =>
      table.split('.').filter(_.nonEmpty)
        .foldLeft(new Path(root))(new Path(_, _)).toString)
      .map(p => p.name() -> p).toMap

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"catalog $catalogName: procedures live under the 'system' " +
        s"namespace — CALL $catalogName.system.${ident.name()}(...)")
    procedures.getOrElse(ident.name(), throw new IllegalArgumentException(
      s"catalog $catalogName: no procedure '${ident.name()}' (have: " +
        s"${procedures.keys.toSeq.sorted.mkString(", ")})"))
  }

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      procedures.keys.toArray.sorted
        .map(Identifier.of(Array("system"), _))
    else Array.empty
}

/** One snapshot table at one (possibly pinned) version. Reads delegate
  * to Spark's parquet DSv2 table over the manifest's file list; writes
  * go through the V1 fallback into the manifest commit machinery.
  * `DELETE FROM … WHERE` lands a [[Layout.snapshotDeleteWhere]]
  * file-granular copy-on-write commit ([[SupportsDelete]]), and
  * `TRUNCATE TABLE` rides the same door with an always-true
  * predicate. */
private[graft] class GraftSnapshotTable(ident: String, dir: String,
    version: Long, branch: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** The table directory / pinned version / branch qualifier, for the
    * SQL MERGE door ([[graft.plans.SnapshotMergeRule]]). `version()`
    * (no-arg) is taken by the DSv2 [[Table]] contract. A branch-
    * qualified instance (`SELECT … FROM cat.db.\`t@audit\``) reads the
    * branch tip, routes INSERTs to [[Layout.snapshotBranchAppend]],
    * DELETEs (on a keyed table) to [[Layout.snapshotBranchDeleteKeys]]
    * MERGE to [[Layout.snapshotBranchMerge]] (the audited CDC upsert,
    * staged as takedown + append — round 14) and UPDATE (keyed
    * tables) to [[Layout.snapshotBranchUpdateWhere]] — the SQL-only
    * staging doors of write-audit-publish; only OVERWRITE/TRUNCATE
    * still refuse on a branch (not stageable shapes). */
  private[graft] def snapDir: String = dir
  private[graft] def snapVersion: Long = version
  private[graft] def snapBranch: Option[String] = branch

  /** True when the delegated plain-file scan cannot serve this version
    * (live MOR delete overlay, or files predating a rename) — the
    * condition [[graft.plans.SnapshotOverlayReadRule]] rewrites
    * read-position relations on. Lazy: one manifest GET per table
    * instance (instances are per-`loadTable`, i.e. per statement), not
    * one per analyzer pass. */
  private[graft] lazy val needsOverlayRead: Boolean = branch match {
    case Some(b) => Layout.snapshotBranchScanNeedsOverlay(spark, dir, b)
    case None    => Layout.snapshotScanNeedsOverlay(spark, dir, version)
  }

  import org.apache.spark.sql.{functions => F}
  import org.apache.spark.sql.sources

  /** Source filter → Column, `None` for shapes we cannot express — in
    * which case `canDeleteWhere` is false and Spark refuses the DELETE
    * at analysis time instead of us half-applying it. */
  private def filterToColumn(
      f: sources.Filter): Option[org.apache.spark.sql.Column] = {
    def c(a: String) = F.col(s"`$a`")
    f match {
      case sources.EqualTo(a, v)            => Some(c(a) === F.lit(v))
      case sources.EqualNullSafe(a, v)      => Some(c(a) <=> F.lit(v))
      case sources.GreaterThan(a, v)        => Some(c(a) > F.lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(c(a) >= F.lit(v))
      case sources.LessThan(a, v)           => Some(c(a) < F.lit(v))
      case sources.LessThanOrEqual(a, v)    => Some(c(a) <= F.lit(v))
      case sources.In(a, vs)                => Some(c(a).isin(vs.toSeq: _*))
      case sources.IsNull(a)                => Some(c(a).isNull)
      case sources.IsNotNull(a)             => Some(c(a).isNotNull)
      case sources.StringStartsWith(a, v)   => Some(c(a).startsWith(v))
      case sources.StringEndsWith(a, v)     => Some(c(a).endsWith(v))
      case sources.StringContains(a, v)     => Some(c(a).contains(v))
      case sources.And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r))
          yield lc && rc
      case sources.Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r))
          yield lc || rc
      case sources.Not(x)        => filterToColumn(x).map(!_)
      case sources.AlwaysTrue()  => Some(F.lit(true))
      case sources.AlwaysFalse() => Some(F.lit(false))
      case _ => None
    }
  }

  /** Declared keys, resolved once per table instance (per statement) —
    * canDeleteWhere, deleteWhere, and properties() would otherwise
    * each pay the same manifest listing + GET, and a key
    * re-declaration landing between two of those reads could make the
    * analysis-time answer and the write-time behavior disagree (the
    * same memoization rationale as [[needsOverlayRead]]). */
  private lazy val declaredKeyCols: Seq[String] =
    Layout.snapshotKeyCols(spark, dir)

  /** A filter shape that deletes EVERYTHING (a bare `TRUNCATE TABLE`
    * routes through the delete door as AlwaysTrue): legal on main,
    * refused on a branch — staging a delete-all overlay over the BASE
    * rows is not an audit, it is a table wipe, and the walk-away /
    * restore verbs are the contract for that. */
  private def deletesEverything(filters: Array[sources.Filter]): Boolean =
    filters.isEmpty || filters.forall(_ == sources.AlwaysTrue())

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    version <= 0 && filters.forall(f => filterToColumn(f).isDefined) &&
      // a branch-side DELETE stages a merge-on-read KEY overlay, so it
      // needs the key contract; refusing here surfaces at analysis
      // time with Spark's own "cannot delete" instead of mid-write.
      // The delete-ALL shape is NOT gated here: TruncateTableExec
      // swallows a false return as a silent no-op, so that refusal
      // throws loudly from deleteWhere/truncateTable instead
      (branch.isEmpty || declaredKeyCols.nonEmpty)

  /** `TRUNCATE TABLE` on a BRANCH identifier refuses loudly: wiping
    * the base rows is not a staged takedown (drop_branch / restore are
    * that contract), and the default [[SupportsDelete.truncateTable]]
    * would otherwise report an un-deletable table as a SILENT no-op
    * (TruncateTableExec ignores a false return). Main-side truncation
    * keeps the default delete-all door. */
  override def truncateTable(): Boolean = {
    require(branch.isEmpty,
      s"catalog table $ident: TRUNCATE a branch is not a staged " +
        "takedown — walk away with drop_branch, or restore main after " +
        "an audited publish")
    super.truncateTable()
  }

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    require(version <= 0,
      s"catalog table $ident: cannot DELETE FROM a time-travel snapshot")
    val cond = filters.flatMap(filterToColumn)
      .reduceOption(_ && _).getOrElse(F.lit(true))
    branch match {
      case Some(b) =>
        // the SQL door for a STAGED TAKEDOWN (the GDPR shape, audited
        // before publish): resolve the predicate against the branch
        // tip, stage the matching rows' KEY tuples as a merge-on-read
        // overlay in the branch namespace — invisible to main until
        // fast_forward, replayed row-level by the typed feed after it
        // (Layout.snapshotBranchDeleteKeys). Key-granular by design:
        // the keys identify the rows a keyed table deletes by.
        require(!deletesEverything(filters),
          s"catalog table $ident: TRUNCATE / delete-all on a branch is " +
            "not a staged takedown — walk away with drop_branch, or " +
            "restore main after an audited publish")
        require(declaredKeyCols.nonEmpty,
          s"catalog table $ident: DELETE FROM a branch stages a keyed " +
            "merge-on-read takedown and needs the key contract — " +
            "declare TBLPROPERTIES ('graft.key' = ...) on the table")
        Layout.snapshotBranchDeleteKeys(spark, dir, b,
          Layout.snapshotBranchRead(spark, dir, b).filter(cond)
            .select(declaredKeyCols.map(F.col): _*),
          declaredKeyCols)
      case None =>
        // declared keys (graft.key) make the delete typed-feed-replayable
        Layout.snapshotDeleteWhere(spark, dir, cond,
          keyCols = declaredKeyCols)
    }
    (): Unit
  }

  /** Declared keys, clustering order, and the update-image policy
    * surface as table properties (`SHOW TBLPROPERTIES`). */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    val keys = declaredKeyCols
    if (keys.nonEmpty) m.put("graft.key", keys.mkString(","))
    val cluster = Layout.snapshotClusterCols(spark, dir)
    if (cluster.nonEmpty) m.put("graft.cluster", cluster.mkString(","))
    Layout.snapshotCdcUpdateImages(spark, dir).foreach(b =>
      m.put("graft.cdc.updateImages", b.toString))
    m
  }

  private def spark = SparkSession.active

  private def resolvedVersion: Long =
    if (version > 0) version
    else Layout.snapshotLatestVersion(spark, dir)
      .getOrElse(sys.error(s"no committed snapshot at $dir"))

  override def name(): String = ident

  override def schema(): StructType = branch match {
    case Some(b) => Layout.snapshotBranchRead(spark, dir, b).schema
    case None    => Layout.snapshotRead(spark, dir, version).schema
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val (files, schemaOfRecord) = branch match {
      case Some(b) => Layout.snapshotBranchScanInputs(spark, dir, b)
      case None => Layout.snapshotScanInputs(spark, dir, resolvedVersion)
    }
    new org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      ident,
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      options, files, Some(schemaOfRecord),
      classOf[org.apache.spark.sql.execution.datasources
        .parquet.ParquetFileFormat])
      .newScanBuilder(options)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame,
                ignored: Boolean): Unit = {
              branch match {
                case Some(b) =>
                  // the SQL-only STAGING door: appends land on the
                  // branch, invisible to main until fast_forward;
                  // overwrite would make the publish delta
                  // non-append-shaped — stage appends only
                  require(!overwrite,
                    s"catalog table $ident: INSERT OVERWRITE a branch " +
                      "is not supported — stage appends, publish with " +
                      "CALL system.fast_forward, or walk away with " +
                      "drop_branch")
                  Layout.snapshotBranchAppend(data, dir, b)
                case None =>
                  if (overwrite) Layout.snapshotCommit(data, dir)
                  else Layout.snapshotAppend(data, dir)
              }
              (): Unit
            }
          }
      }
    }
}

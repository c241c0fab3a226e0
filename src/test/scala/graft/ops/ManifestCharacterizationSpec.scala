package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** Characterization of every committing snapshot operation: each one
  * runs once on a small table, and every manifest it leaves behind —
  * main line and branches — is pinned against
  * `src/test/resources/graft/ops/manifest_characterization.golden`.
  *
  * Per manifest the golden records the file lines in order, then the
  * meta lines grouped by tag (the text up to the first `=`), each group
  * in order. Writer-unique data-dir tokens and part-file UUIDs are
  * normalized to first-appearance ordinals, so the pin is stable across
  * runs while still catching a carried line that moves, vanishes or
  * changes.
  *
  * On a mismatch the actual dump is written to
  * `target/manifest_characterization.actual` for diffing. */
class ManifestCharacterizationSpec extends SparkSpec {
  import spark.implicits._

  private val GoldenResource = "/graft/ops/manifest_characterization.golden"

  private def rows(r: Range, tag: String) =
    r.map(i => (i, s"$tag$i")).toDF("k", "s").repartition(1)

  /** Main table: commit, append, declare keys/cluster, merge into,
    * update/delete where, evolve, rename, retype, drop columns,
    * delete keys, compact and restore — one commit each, in that order. */
  private def mainTable(dir: String): Unit = {
    Layout.snapshotCommit(rows(1 to 20, "a"), dir, statsCols = Seq("k"))
    Layout.snapshotAppend(rows(21 to 30, "b"), dir, meta = Seq("batch=0"))
    Layout.snapshotDeclareKeys(spark, dir, Seq("k"))
    Layout.snapshotDeclareCluster(spark, dir, Seq("k"))
    Layout.snapshotMergeInto(spark, dir,
      Seq((4, "m4"), (40, "m40")).toDF("k", "s")
        .repartition(1), Seq("k"))
    Layout.snapshotUpdateWhere(spark, dir, col("k") === 5,
      Seq("s" -> lit("u5")), keyCols = Seq("k"))
    Layout.snapshotDeleteWhere(spark, dir, col("k") === 6,
      keyCols = Seq("k"))
    Layout.snapshotEvolve((31 to 35).map(i => (i, s"c$i", i * 10))
      .toDF("k", "s", "x").repartition(1), dir)
    Layout.snapshotRename(spark, dir, Map("x" -> "y"))
    Layout.snapshotRetype(spark, dir, Map("y" -> LongType))
    Layout.snapshotDropColumns(spark, dir, Seq("y"))
    Layout.snapshotDeleteKeys(spark, dir, Seq(3, 33).toDF("k"), Seq("k"))
    Layout.snapshotCompact(spark, dir)
    Layout.snapshotRestore(spark, dir, 2L)
  }

  /** Branch table: branch append, merge and delete keys, a main append
    * that diverges main, then rebase and fast-forward. */
  private def branchStageTable(dir: String): Unit = {
    Layout.snapshotAppend(rows(1 to 20, "a"), dir, statsCols = Seq("k"))
    Layout.snapshotBranch(spark, dir, "stage")
    Layout.snapshotBranchAppend(rows(101 to 110, "b"), dir, "stage")
    Layout.snapshotBranchMerge(spark, dir, "stage",
      Seq((7, "m7"), (120, "m120")).toDF("k", "s").repartition(1),
      Seq("k"))
    Layout.snapshotBranchDeleteKeys(spark, dir, "stage",
      Seq(8, 105).toDF("k"), Seq("k"))
    Layout.snapshotAppend(rows(201 to 205, "c"), dir)
    Layout.snapshotRebase(spark, dir, "stage")
    Layout.snapshotFastForward(spark, dir, "stage")
  }

  /** Branch table: branch rename and retype, then fast-forward. */
  private def branchAlterTable(dir: String): Unit = {
    Layout.snapshotAppend((1 to 10).map(i => (i, s"a$i", i))
      .toDF("k", "s", "n").repartition(1), dir, statsCols = Seq("k"))
    Layout.snapshotBranch(spark, dir, "alter")
    Layout.snapshotBranchRename(spark, dir, "alter", Map("s" -> "t"))
    Layout.snapshotBranchRetype(spark, dir, "alter", Map("n" -> LongType))
    Layout.snapshotFastForward(spark, dir, "alter")
  }

  private val DataDir = "data/v(\\d{8})-([A-Za-z0-9]+)".r
  private val PartUuid =
    "part-(\\d{5})-([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})".r

  /** Rewrites every data-dir token and part-file UUID to an ordinal of
    * first appearance across the whole dump. */
  private final class Normalizer {
    private val tokens = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    private val uuids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def apply(line: String): String = {
      val t = DataDir.replaceAllIn(line, m => {
        val n = tokens.getOrElseUpdate(m.group(2), tokens.size + 1)
        s"data/v${m.group(1)}-T$n"
      })
      PartUuid.replaceAllIn(t, m => {
        val n = uuids.getOrElseUpdate(m.group(2), uuids.size + 1)
        s"part-${m.group(1)}-U$n"
      })
    }
  }

  private def manifestsUnder(ns: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!Files.isDirectory(ns)) Nil
    else {
      val s = Files.list(ns)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.getFileName.toString.matches("v\\d{8}\\.manifest"))
        .sortBy(_.getFileName.toString)
      finally s.close()
    }

  private def dump(label: String, dir: String, norm: Normalizer): Seq[String] = {
    val snaps = Paths.get(dir, "_snapshots")
    val branchRoot = snaps.resolve("branches")
    val branches =
      if (!Files.isDirectory(branchRoot)) Nil
      else {
        val s = Files.list(branchRoot)
        try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
          .filter(Files.isDirectory(_)).sortBy(_.getFileName.toString)
        finally s.close()
      }
    val namespaces = ("main" -> snaps) +:
      branches.map(b => s"branch:${b.getFileName}" -> b)
    namespaces.flatMap { case (ns, path) =>
      manifestsUnder(path).flatMap { m =>
        val lines = new String(Files.readAllBytes(m), UTF_8)
          .split("\n", -1).toSeq.filter(_.nonEmpty).map(norm(_))
        assert(lines.lastOption.contains("#commit"),
          s"$label $ns ${m.getFileName} has no commit footer")
        val body = lines.dropRight(1)
        val files = body.filterNot(_.startsWith("#"))
        val meta = body.filter(_.startsWith("#")).map(_.drop(1))
        val byTag = meta.groupBy(l => l.takeWhile(_ != '=') + "=")
          .toSeq.sortBy(_._1)
        (s"== $label $ns ${m.getFileName}" +:
          files.map("file " + _)) ++
          byTag.flatMap { case (tag, ls) =>
            s"tag $tag" +: ls.map("  " + _)
          }
      }
    }
  }

  test("every committing operation writes the pinned manifest lines") {
    val root = tmpDir("manifest-char")
    val tables = Seq(
      "main" -> (mainTable _),
      "stage" -> (branchStageTable _),
      "alter" -> (branchAlterTable _))
    val norm = new Normalizer
    val actual = tables.flatMap { case (label, build) =>
      val dir = s"$root/$label"
      build(dir)
      dump(label, dir, norm)
    }.mkString("", "\n", "\n")
    val golden = Option(getClass.getResourceAsStream(GoldenResource))
      .map { in =>
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
    if (!golden.contains(actual)) {
      val out = Paths.get("target", "manifest_characterization.actual")
      Files.createDirectories(out.getParent)
      Files.write(out, actual.getBytes(UTF_8))
      val firstDiff = golden.map { g =>
        g.split("\n").zipAll(actual.split("\n"), "<eof>", "<eof>")
          .zipWithIndex.collectFirst {
            case ((e, a), i) if e != a =>
              s"line ${i + 1}: expected [$e] got [$a]"
          }.getOrElse("length differs")
      }.getOrElse(s"missing resource $GoldenResource")
      fail(s"manifests differ from the golden ($firstDiff); actual dump " +
        s"written to ${out.toAbsolutePath}")
    }
  }
}

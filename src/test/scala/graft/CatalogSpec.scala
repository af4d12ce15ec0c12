package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query catalog: which queries exist, under which name, with which
  * oracle. `catalog.tsv` pins one line per query — its name and the SHA-1
  * of its oracle text (`-` when it has none) — so a pack reorganization
  * that renames a query, drops a row or edits an oracle fails here
  * instead of silently changing what the correctness gate compares. */
class CatalogSpec extends AnyFunSuite {

  private def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("every (name, oracle) in SparkEntry.packs matches catalog.tsv") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/catalog.tsv"), "UTF-8")
    val pinned = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(name, hash) = l.split('\t')
      name -> hash
    }.toMap finally src.close()
    val live = SparkEntry.packs.flatMap(_.queries)
      .map(q => q.name -> q.oracle.fold("-")(sha1)).toMap
    val missing = (pinned.keySet -- live.keySet).toSeq.sorted
    val added = (live.keySet -- pinned.keySet).toSeq.sorted
    val changed = (pinned.keySet & live.keySet)
      .filter(n => pinned(n) != live(n)).toSeq.sorted
    assert(missing.isEmpty && added.isEmpty && changed.isEmpty,
      s"catalog drift — missing: ${missing.mkString(", ")}; " +
        s"added: ${added.mkString(", ")}; oracle changed: ${changed.mkString(", ")}")
    assert(pinned.size == SparkEntry.queries.size)
  }

  test("source guard: no query pack is named after the round that added it") {
    val roundNamed = """(Extras|FunctionTail|LlmPipeline)\w*|\w*\d""".r
    val files = SourceGuard.lines("src/main/scala/graft/queries")
      .map(_._1.getName.stripSuffix(".scala")).distinct
      .filter(roundNamed.matches)
    val pack = """object\s+(\w+)\s+extends\s+QueryPack\b""".r
    val objects = SourceGuard.lines("src/main/scala")
      .flatMap { case (_, _, line) => pack.findAllMatchIn(line).map(_.group(1)) }
      .filter(roundNamed.matches)
    val registered = SparkEntry.packs
      .map(_.getClass.getSimpleName.stripSuffix("$"))
      .filter(roundNamed.matches)
    assert(files.isEmpty && objects.isEmpty && registered.isEmpty,
      s"round-named packs — files: ${files.mkString(", ")}; " +
        s"objects: ${objects.mkString(", ")}; " +
        s"registered: ${registered.mkString(", ")}")
  }
}

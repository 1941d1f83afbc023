package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source guards for the one lineage-truncation rule in
  * [[graft.operators.Reuse]] (only Reuse.scala and Graph.scala
  * checkpoint or set the checkpoint dir, and the per-call options the
  * rule replaced do not come back), for the one SQL-function
  * declaration in [[graft.engine.SqlFunction]], for locale-free case
  * mapping, for the one banded candidate join in
  * [[graft.operators.Dedup]], for the one declaration per
  * store-backed twin pair in [[graft.queries.StoreTwins]], and for the
  * one spelling of each shared SQL recipe in
  * [[graft.queries.SqlRecipes]]. Whole-line comments are skipped. */
class SourceGuardSpec extends AnyFunSuite {
  private val root = new java.io.File("src/main/scala")

  /** (file name, "path:line: code") for every non-comment source line. */
  private lazy val code: Seq[(String, String)] = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    files(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (l, i) if !l.trim.matches("""(//|\*|/\*).*""") =>
          (f.getName, s"${f.getPath}:${i + 1}: ${l.trim}")
      }.toList
      finally src.close()
    }
  }

  private def hits(pattern: String, allowed: Set[String] = Set.empty): Seq[String] =
    code.collect {
      case (name, line) if !allowed(name) && pattern.r.findFirstIn(line).isDefined => line
    }

  test("only Reuse.scala and Graph.scala checkpoint or set the checkpoint dir") {
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    val found = hits("""\.localCheckpoint\(|\.checkpoint\(|setCheckpointDir""",
      allowed = Set("Reuse.scala", "Graph.scala"))
    assert(found.isEmpty,
      "truncate lineage through graft.operators.Reuse:\n" + found.mkString("\n"))
  }

  test("no per-call reliable mode or checkpointDir parameter") {
    val found = hits("""Reuse\.Reliable|class Reliable\b|\bcheckpointDir\s*:""")
    assert(found.isEmpty,
      "reliable checkpoints come from the application's checkpoint dir:\n" +
        found.mkString("\n"))
  }

  test("SQL functions register only through SqlFunction, named by their signature") {
    val found = hits("""createOrReplaceTempFunction|registerTableFunction\(""",
      allowed = Set("SqlFunction.scala", "GraftBridge.scala"))
    assert(found.isEmpty,
      "declare SQL functions with graft.engine.SqlFunction:\n" + found.mkString("\n"))
    val restated = hits("""val f = """")
    assert(restated.isEmpty,
      "a function's name belongs in its signature only:\n" + restated.mkString("\n"))
  }

  test("the SQL front end maps case only with an explicit Locale") {
    // under a tr-TR default locale "distinct".toUpperCase is "DİSTİNCT"
    val found = hits("""\.to(Upper|Lower)Case\b(?!\s*\(\s*(java\.util\.)?Locale\.)""")
      .filter(_.contains("/graft/engine/"))
    assert(found.isEmpty,
      "name a Locale (Locale.ROOT) or compare with equalsIgnoreCase:\n" +
        found.mkString("\n"))
  }

  test("all of src/main maps case only with an explicit Locale") {
    // under tr-TR "file".toUpperCase is "FİLE", which parse_url rejects
    val found = hits("""\.to(Upper|Lower)Case\b(?!\s*\(\s*(java\.util\.)?Locale\.)""")
    assert(found.isEmpty,
      "name a Locale (Locale.ROOT) or compare with equalsIgnoreCase:\n" +
        found.mkString("\n"))
  }

  test("near-duplicate operators band and pair candidates only through Dedup") {
    // a bucket self-join aliases its sides x/y (or a/b); a band-row
    // explode builds (band_idx, band_val) structs
    val found = hits("""\.as\("[ax]"\)\.join\(|struct\(.*\.as\("band_idx"\)""",
      allowed = Set("Dedup.scala"))
    assert(found.isEmpty,
      "band with Dedup.bandRows and self-join with Dedup.bucketPairs:\n" +
        found.mkString("\n"))
  }

  test("the _sql store-dir suffix is spelled only in the twin declaration") {
    // a store-backed e_sql_* key gets its store dir from its
    // StoreTwins declaration; the two SQL keys below have no Scala-side
    // store, so no twin
    val noTwin = Seq("\"hybrid_join_sql\"", "\"selfdedup_sql\"")
    val found = hits("""_sql["}]""", allowed = Set("StoreTwins.scala"))
      .filter(_.contains("Stores.dir"))
      .filterNot(l => noTwin.exists(l.contains))
    assert(found.isEmpty,
      "declare a store-backed pair in graft.queries.StoreTwins:\n" +
        found.mkString("\n"))
  }

  test("a SQL recipe two keys share is spelled only in SqlRecipes") {
    // one fingerprint per shared recipe: the media slice, the BPE merge
    // table, the BPE apply step, the dHash slice kernel, the PQ
    // codebooks and the connected-components closure
    val fingerprints = Seq("mx - 300 AND length(text) >= 400", "(1,'th','e')",
      "position(' '||m.l||'  '||m.r||' ' IN b.s)",
      "CAST(floor(length(h)*k/72) AS INT)", "seed.v[sub.s*16+1", "reach(id, r) AS")
    val found = fingerprints.flatMap(f =>
      hits(java.util.regex.Pattern.quote(f), allowed = Set("SqlRecipes.scala")))
    assert(found.isEmpty,
      "compose the recipe from graft.queries.SqlRecipes:\n" + found.mkString("\n"))
  }
}

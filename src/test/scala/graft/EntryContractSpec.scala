package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract: query names are unique, the native function
  * registries agree, and every oracle reads only driver-provided tables.
  */
class EntryContractSpec extends AnyFunSuite {

  test("every spec name is distinct") {
    assert(SparkEntry.specs.map(_.name).distinct.size === SparkEntry.specs.size)
  }

  test("session registry and GraftExtensions register the same native functions") {
    // VectorExpressions.register (per-session) and GraftExtensions
    // (spark.sql.extensions) are two routes to the same function set; a
    // function added to one but not the other breaks cluster deployments
    // silently. Source-text check (SparkSessionExtensions exposes no getter).
    val src = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        "src/main/scala/graft/expressions/VectorExpressions.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val name = """"(graft_[a-z0-9_]+)"""".r
    val Array(registryPart, extensionsPart) = src.split("class GraftExtensions")
    val registered = name.findAllMatchIn(registryPart).map(_.group(1)).toSet
    val injected = name.findAllMatchIn(extensionsPart).map(_.group(1)).toSet
    // graft_vec_sum is a UDAF (spark.udf.register), not injectable the same
    // way — exempt from the extensions side
    assert((registered - "graft_vec_sum") === injected)
  }

  test("oracle SQL references only driver-provided tables and its own CTEs") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // \b so a column ending in `_from` before a line break doesn't make
    // the NEXT keyword's text parse as a relation named "from"
    val fromRe = """(?i)\b(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)""".r
    SparkEntry.specs.foreach { q =>
      val refs = fromRe.findAllMatchIn(q.oracleSql).map(_.group(1).toLowerCase).toSet
      val cteNames = """(?i)([a-z_][a-z0-9_]*)\s+AS\s*(?:MATERIALIZED\s*)?\(""".r
        .findAllMatchIn(q.oracleSql).map(_.group(1).toLowerCase).toSet
      val unknown = refs -- tables -- cteNames
      assert(unknown.isEmpty,
        s"${q.name} references unknown relations: ${unknown.mkString(", ")}")
      assert(refs.intersect(tables).nonEmpty || cteNames.nonEmpty,
        s"${q.name} references no known table")
    }
  }
}

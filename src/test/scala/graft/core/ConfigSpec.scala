package graft.core

import graft.RefFixtures
import org.scalatest.funsuite.AnyFunSuite

/** Config parsing parity with the reference's `parse_metadata`
  * (reference dogsheep_beta/utils.py:104-112): JSON first, YAML
  * fallback with `yaml.safe_load` semantics, BadMetadataError otherwise.
  */
class ConfigSpec extends AnyFunSuite {

  test("parses the reference dogs.db YAML fixture") {
    val rules = RefFixtures.dogsRules
    assert(rules.size == 1)
    val r = rules.head
    assert(r.db == "dogs.db" && r.docType == "dogs")
    assert(r.typeTag == "dogs.db/dogs")
    assert(r.sql.contains("case name when 'Cleo' then 1 else 2 end as category"))
    assert(r.sql.trim.startsWith("select"))
  }

  test("parses the reference plugin YAML fixture (2 dbs, display_sql)") {
    val rules = RefFixtures.pluginRules
    assert(rules.map(_.typeTag).toSet ==
      Set("emails.db/emails", "github.db/commits"))
    val commits = rules.find(_.db == "github.db").get
    assert(commits.displaySql.get.contains(":q as their_query"))
    assert(commits.display.get.contains("{{ display.repo_name }}"))
    assert(commits.sql.contains("'Commit to ' || commits.repo_name as title"))
  }

  test("JSON config accepted (tried before YAML, utils.py:106-108)") {
    val rules = Config.parseMetadata(
      """{"db1.db": {"t1": {"sql": "select 1 as key", "display": "<b>x</b>"}}}""")
    assert(rules == Seq(IndexRule("db1.db", "t1", "select 1 as key",
      None, Some("<b>x</b>"))))
  }

  test("invalid document raises BadMetadataError") {
    intercept[BadMetadataError](Config.parseMetadata("] this is { nothing"))
  }

  // The name dates from a hand-written YAML reader; the document step is
  // now Config.parseDocument.
  test("MiniYaml: flow and block sequences parse as Seq values") {
    val m = Config.parseDocument(
      """plain: value
        |flow: [a, b, 'c, d', [x, y]]
        |empty_flow: []
        |block:
        |  - one
        |  - "two three"
        |  - [i, j]
        |maps:
        |  - name: alpha
        |    sql: select 1
        |  - name: beta
        |nested:
        |  inner:
        |    - deep
        |""".stripMargin).asInstanceOf[Map[String, Any]]
    assert(m("plain") == "value")
    assert(m("flow") == Seq("a", "b", "c, d", Seq("x", "y")))
    assert(m("empty_flow") == Seq.empty)
    assert(m("block") == Seq("one", "two three", Seq("i", "j")))
    assert(m("maps") == Seq(
      Map("name" -> "alpha", "sql" -> "select 1"),
      Map("name" -> "beta")))
    assert(m("nested").asInstanceOf[Map[String, Any]]("inner") == Seq("deep"))
  }

  test("a document that contains itself through an alias raises BadMetadataError") {
    val e = intercept[BadMetadataError](Config.parseDocument("a: &a [x, *a]\n"))
    assert(e.getMessage.contains("deeper"))
  }

  test("rules config: anchors, aliases and merge keys (yaml.safe_load surface)") {
    val rules = Config.parseMetadata(
      """base.db:
        |    base: &defaults
        |        sql: &q select 1 as key
        |        display: default display
        |    svc:
        |        <<: *defaults
        |        display: own display
        |    copy: *defaults
        |    again:
        |        sql: *q
        |""".stripMargin)
    assert(rules == Seq(
      IndexRule("base.db", "base", "select 1 as key", None, Some("default display")),
      // merge supplies defaults; the explicit key wins
      IndexRule("base.db", "svc", "select 1 as key", None, Some("own display")),
      IndexRule("base.db", "copy", "select 1 as key", None, Some("default display")),
      IndexRule("base.db", "again", "select 1 as key")))
    // quoted scalars that merely LOOK like anchors/aliases stay literal
    assert(Config.parseMetadata("d:\n  t:\n    sql: '&x'\n    display: \"*y\"\n") ==
      Seq(IndexRule("d", "t", "&x", None, Some("*y"))))
  }

  test("rules config: unknown alias and non-mapping merge fail loudly") {
    intercept[BadMetadataError](Config.parseMetadata("d:\n  t:\n    sql: *nope\n"))
    intercept[BadMetadataError](Config.parseMetadata(
      "x: &s scalar\nd:\n  t:\n    <<: *s\n    sql: select 1\n"))
  }

  test("rules config: a flow or block sequence where a rule is expected raises BadMetadataError") {
    intercept[BadMetadataError](Config.parseMetadata("d:\n  t: [a, b, 'c, d']\n"))
    intercept[BadMetadataError](Config.parseMetadata(
      """d:
        |  t:
        |    - name: alpha
        |      sql: select 1
        |    - name: beta
        |""".stripMargin))
  }

  test("6 dbs and 6 types come back in document order") {
    val dbs = Seq(1, 2, 3, 4, 5, 6).map(i => s"db$i")
    val types = Seq(1, 2, 3, 4, 5, 6).map(i => s"t$i")
    val yaml = dbs.map { db =>
      s"$db:\n" + types.map(t => s"  $t:\n    sql: select '$db/$t'\n").mkString
    }.mkString
    val expected = for (db <- dbs; t <- types) yield (db, t)
    assert(Config.parseMetadata(yaml).map(r => (r.db, r.docType)) == expected)
  }

  test("a trailing # comment is not part of sql") {
    assert(Config.parseMetadata("d:\n  t:\n    sql: select 1 # trailing\n").head.sql ==
      "select 1")
  }

  test("double-quoted escapes are decoded") {
    val yaml = "d:\n  t:\n    sql: \"select '\\\\n' \\\"x\\\"\"\n"
    assert(Config.parseMetadata(yaml).head.sql == "select '\\n' \"x\"")
  }

  test("folded and multi-line plain sql values parse") {
    val rules = Config.parseMetadata(
      """d:
        |  folded:
        |    sql: >
        |      select 1
        |      as key
        |  plain:
        |    sql: select 1
        |      as key
        |""".stripMargin)
    assert(rules.map(_.sql) == Seq("select 1 as key\n", "select 1 as key"))
  }

  test("sql: ~ and sql: null raise BadMetadataError") {
    for (v <- Seq("~", "null"))
      intercept[BadMetadataError](Config.parseMetadata(s"d:\n  t:\n    sql: $v\n"))
  }

  test("an unquoted brace-led display template raises BadMetadataError") {
    val e = intercept[BadMetadataError](Config.parseMetadata(
      "d:\n  t:\n    sql: select 1\n    display: {{ display.x }}\n"))
    assert(e.getMessage.contains("quote"))
    // quoted, it is the template
    assert(Config.parseMetadata(
      "d:\n  t:\n    sql: select 1\n    display: '{{ display.x }}'\n").head.display ==
      Some("{{ display.x }}"))
  }

  test("list value where a rule mapping is required still raises BadMetadataError") {
    // PyYAML parses this fine; the RULES contract then rejects it — same
    // split as the reference (parse succeeds, schema validation fails)
    intercept[BadMetadataError](Config.parseMetadata(
      """db1.db:
        |  - not
        |  - a
        |  - mapping
        |""".stripMargin))
  }

  test("rule missing sql raises BadMetadataError") {
    intercept[BadMetadataError](
      Config.parseMetadata("""{"d": {"t": {"display": "x"}}}"""))
  }
}

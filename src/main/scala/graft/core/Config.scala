package graft.core

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import scala.collection.immutable.SeqMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Indexing configuration: which SQL to run against which source to
  * produce documents of which type.
  *
  * Mirrors the reference's YAML/JSON rules file
  * `{db_name: {doc_type: {sql, display, display_sql}}}`
  * (reference dogsheep_beta/utils.py:104-112, README.md:30-48).
  * JSON is tried first (Jackson), YAML as fallback (SnakeYAML, the Java
  * port of the reference's PyYAML, so YAML 1.1 and `yaml.safe_load`
  * semantics: comments, escapes, folded and multi-line scalars, anchors,
  * aliases and `<<` merge keys). An unparseable document raises
  * [[BadMetadataError]] — same contract as `parse_metadata`.
  *
  * A `sql`, `display_sql` or `display` value that starts with `{` or `[`
  * must be quoted or written as a `|` block: unquoted, YAML reads
  * `display: {{ display.x }}` as a flow mapping, which is rejected.
  */
final case class IndexRule(
    db: String,
    docType: String,
    sql: String,
    displaySql: Option[String] = None,
    display: Option[String] = None
) {
  /** `"{db}/{type}"` tag, reference utils.py:47. */
  def typeTag: String = s"$db/$docType"
}

class BadMetadataError(msg: String) extends RuntimeException(msg)

object Config {

  private val json =
    new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** Parse a config document (JSON first, YAML fallback — reference
    * utils.py:104-112). Returns rules in document order.
    */
  def parseMetadata(content: String): Seq[IndexRule] =
    for {
      (db, types) <- mapping(parseDocument(content), "top level")
      (typ, spec) <- mapping(types, db)
    } yield {
      val m = mapping(spec, s"$db/$typ").toMap
      def field(k: String): Option[String] = m.get(k).flatMap {
        case null => None
        case v @ (_: Map[_, _] | _: Seq[_]) =>
          throw new BadMetadataError(
            s"$db/$typ: $k must be a string, got $v; quote a value that starts with { or [")
        case v => Some(String.valueOf(v))
      }
      IndexRule(db, typ,
        field("sql").getOrElse(throw new BadMetadataError(s"$db/$typ missing sql")),
        field("display_sql"), field("display"))
    }

  /** Parse a JSON or YAML document into Scala values: mappings become
    * [[SeqMap]]s in document order with string keys, sequences become
    * `Seq`s, scalars stay as parsed. Unparseable input raises
    * [[BadMetadataError]].
    */
  def parseDocument(content: String): Any = {
    val tree: Any =
      try json.readValue(content, classOf[Object])
      catch {
        case NonFatal(_) =>
          try new Yaml(new SafeConstructor(new LoaderOptions())).load[Object](content)
          catch {
            case NonFatal(e) =>
              throw new BadMetadataError(
                s"Metadata is neither valid JSON nor valid YAML: ${e.getMessage}")
          }
      }
    toScala(tree, 0)
  }

  /** Nesting bound: a YAML alias can make a document contain itself. */
  private val MaxDepth = 64

  private def toScala(v: Any, depth: Int): Any = {
    if (depth > MaxDepth)
      throw new BadMetadataError(s"Metadata nests deeper than $MaxDepth levels")
    v match {
      case m: java.util.Map[_, _] =>
        SeqMap.from(m.asScala.iterator.map { case (k, x) =>
          (String.valueOf(k), toScala(x, depth + 1))
        })
      case l: java.util.List[_] => l.asScala.iterator.map(toScala(_, depth + 1)).toVector
      case x => x
    }
  }

  /** A mapping's entries in document order. */
  private def mapping(v: Any, where: String): Seq[(String, Any)] = v match {
    case m: SeqMap[_, _] => m.toSeq.map { case (k, x) => (String.valueOf(k), x) }
    case other => throw new BadMetadataError(s"$where: expected mapping, got $other")
  }
}

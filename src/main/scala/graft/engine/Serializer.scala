package graft.engine

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, Row}

/** Result serializer — port of the reference's row normalization
  * (`core/ai_query_generator.py:325-341`, SURVEY.md §1.4):
  *   - date/datetime → ISO-8601 string (:333-334)
  *   - numeric column whose name contains "salary" → round(float, 2) (:335-336)
  *   - NULL → null (:337-338)
  *   - everything else → string (:339-340)
  *
  * Driver-side collect is safe here by construction: every SQL the compiler
  * emits carries a LIMIT (≤100 rows; `ai_query_generator.py:110,230-281`),
  * so serialization never pulls an unbounded result to the driver. Callers
  * serializing arbitrary frames should bound them first.
  */
object Serializer {

  /** One serialized cell per the reference's rules. */
  def normalize(columnName: String, value: Any): Any = value match {
    case null => null
    case d: java.sql.Date => d.toString // ISO yyyy-MM-dd, = isoformat()
    case t: java.sql.Timestamp =>
      t.toLocalDateTime.toString // ISO-8601, = datetime.isoformat()
    case d: java.time.LocalDate => d.toString
    case i: java.time.Instant => i.toString
    case n: java.lang.Number if columnName.toLowerCase.contains("salary") =>
      math.round(n.doubleValue() * 100.0) / 100.0
    case bd: java.math.BigDecimal if columnName.toLowerCase.contains("salary") =>
      math.round(bd.doubleValue() * 100.0) / 100.0
    case other => other.toString
  }

  /** Collect and normalize `df`. Each row map keeps `columns` order (the
    * reference's `dict(zip(columns, row))`), so its JSON object lists the
    * fields in the order the SQL selected them.
    */
  def toData(df: DataFrame): (Seq[Map[String, Any]], Seq[String]) = {
    val columns = df.columns.toSeq
    val data = df.collect().toSeq.map { row: Row =>
      ListMap.from(columns.zipWithIndex.map { case (c, i) =>
        c -> normalize(c, row.get(i))
      })
    }
    (data, columns)
  }

  // ---- minimal JSON writer (no external deps; JSON shape mirrors the
  // reference's JsonResponse envelope, `core/views.py:50`) ----

  def jsonEscape(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def toJsonValue(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, mv) => s"${jsonEscape(k.toString)}:${toJsonValue(mv)}" }
        .mkString("{", ",", "}")
    case s: Seq[_] => s.map(toJsonValue).mkString("[", ",", "]")
    case other => jsonEscape(other.toString)
  }
}

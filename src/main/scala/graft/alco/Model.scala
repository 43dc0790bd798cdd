package graft.alco

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** Core data model of the alcospark pipeline (SURVEY.md §1).
  *
  * The input contract (BASELINE.json `input_hint`) is an Iceberg-style table
  * of multi-turn conversation/agent transcripts; `Turn` is the typed row.
  * Reference analog: alco's rsyslog-JSON log message
  * (alco/collector/collector.py::Collector.process_message — [PK], see
  * SURVEY.md §0 for citation conventions; the reference tree is empty).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** Per-column role flags, mirroring alco's LoggerColumn admin model
  * (filtered / display / excluded / context — alco/collector/models.py
  * ::LoggerColumn [PK]). Drives projection, distinct-value rollups and the
  * context-window grouping key in the rebuilt engine.
  */
final case class ColumnRole(
    name: String,
    filtered: Boolean = false,
    display: Boolean = true,
    excluded: Boolean = false,
    context: Boolean = false)

/** One routing sink ≙ one alco LoggerIndex ≙ one per-(tool, role) table. */
final case class SinkKey(tool: String, role: String) {
  def key: String = s"${SinkKey.sanitize(tool)}/${SinkKey.sanitize(role)}"
}
object SinkKey {
  def sanitize(s: String): String = if (s == null || s.isEmpty) "_none" else s
}

object Model {
  /** Fixed input schema per BASELINE.json input_hint. */
  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("tool", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false)))
}

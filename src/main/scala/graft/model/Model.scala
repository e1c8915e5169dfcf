package graft.model

/** Core job/data model, re-expressed for Spark from the reference's
  * Source/WorkUnit/State abstractions:
  *   - Extract table types: reference
  *     gobblin-api/.../source/workunit/Extract.java:51-56
  *
  * In the Spark re-design a "WorkUnit" collapses into a read-spec the
  * driver computes from the state store; Spark owns task distribution.
  */
sealed trait TableType
object TableType {
  case object SnapshotOnly extends TableType
  case object SnapshotAppend extends TableType
  case object AppendOnly extends TableType

  /** Spark write-mode equivalent of the reference's table types. */
  def writeMode(t: TableType): String = t match {
    case SnapshotOnly => "overwrite"
    case SnapshotAppend | AppendOnly => "append"
  }
}

/** A declarative ingestion job: source read-spec + transform chain +
  * quality policies + sink + publish policy. Replaces the reference's
  * Source→Extractor→Converter*→Policies→Writer→Publisher construct chain
  * (gobblin-api/.../Constructs.java:33-47) with one Spark action per
  * dataset/branch.
  */
final case class JobSpec(
    name: String,
    namespace: String = "graft",
    tableType: TableType = TableType.AppendOnly)

package graft.state

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** State-store contract shared by the filesystem and JDBC backends —
  * the reference's StateStore interface
  * (gobblin-metastore/.../StateStore.java) reduced to the flat
  * string-map State this engine carries. Values are per-dataset
  * METADATA (watermarks, schemas, run bookkeeping), never data.
  */
trait StateStore {
  def put(store: String, key: String, state: Map[String, String]): Unit
  def get(store: String, key: String): Option[Map[String, String]]
  def getOrElse(store: String, key: String, default: Map[String, String]): Map[String, String] =
    get(store, key).getOrElse(default)
  def delete(store: String, key: String): Unit
  def listKeys(store: String): Seq[String]
}

/** Filesystem-backed state store: one JSON file per (store, table) key,
  * written via temp-file + rename so readers never observe a partial
  * state. Replaces the reference's SequenceFile-backed FsStateStore
  * (gobblin-metastore/.../FsStateStore.java:52,167) with a format a
  * human (and DuckDB/Spark) can read.
  *
  * State values are flat string maps — the same shape the reference's
  * Properties-backed State carries (gobblin-api/.../configuration/
  * State.java). Watermarks serialize into them as plain strings.
  *
  * Scale note: state files are per-dataset metadata (bytes, not data);
  * using the Hadoop FileSystem API keeps this working unchanged on
  * HDFS/S3A at cluster scale.
  */
final class FsStateStore(root: String, conf: Configuration = new Configuration())
  extends StateStore {

  private def pathFor(store: String, key: String): Path =
    new Path(root, s"$store/$key.json")

  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  def put(store: String, key: String, state: Map[String, String]): Unit = {
    val dest = pathFor(store, key)
    val f = fs(dest)
    f.mkdirs(dest.getParent)
    val tmp = new Path(dest.getParent, s".${dest.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(Json.render(state).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // Single-step atomic replace: FileContext rename with OVERWRITE.
    // delete-then-rename would leave a window where a reader sees the
    // state missing and a crash loses the previous state entirely.
    val fc =
      if (dest.toUri.getScheme == null) FileContext.getFileContext(conf)
      else FileContext.getFileContext(dest.toUri, conf)
    fc.rename(tmp, dest, Options.Rename.OVERWRITE)
  }

  def get(store: String, key: String): Option[Map[String, String]] = {
    val p = pathFor(store, key)
    val f = fs(p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(Json.parseFlat(new String(bytes.toByteArray, StandardCharsets.UTF_8)))
      } finally in.close()
    }
  }

  def delete(store: String, key: String): Unit = {
    val p = pathFor(store, key)
    val f = fs(p)
    if (f.exists(p)) f.delete(p, false)
  }

  def listKeys(store: String): Seq[String] = {
    val dir = new Path(root, store)
    val f = fs(dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json"))
      .sorted
  }
}

/** Minimal flat-JSON codec (string->string objects only) so the state
  * store has zero library dependencies beyond the JDK.
  */
private[state] object Json {
  def escape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def render(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${escape(k)}": "${escape(v)}"""" }
      .mkString("{\n  ", ",\n  ", "\n}")

  /** Parses exactly the flat objects [[render]] emits (plus arbitrary
    * whitespace). Not a general JSON parser by design.
    */
  def parseFlat(s: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    var i = 0
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def str(): String = {
      require(s(i) == '"', s"expected quote at $i"); i += 1
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case '"'  => sb += '"'
            case '\\' => sb += '\\'
            case 'n'  => sb += '\n'
            case 'r'  => sb += '\r'
            case 't'  => sb += '\t'
            case 'u'  => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c    => sb += c
          }
        } else sb += s(i)
        i += 1
      }
      i += 1
      sb.result()
    }
    ws(); require(s(i) == '{', "expected {"); i += 1; ws()
    if (i < s.length && s(i) == '}') return out.toMap
    var done = false
    while (!done) {
      ws(); val k = str(); ws()
      require(s(i) == ':', s"expected : at $i"); i += 1; ws()
      val v = str(); out += k -> v; ws()
      if (i < s.length && s(i) == ',') i += 1 else done = true
    }
    out.toMap
  }
}

package graft.sink

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.state.FsStateStore

/** Partition-manifest versioned table — the Iceberg-style commit
  * surface for PARTITION-GRANULAR incremental maintenance: snapshot
  * isolation, time travel and rollback with partition-level rewrites
  * (ref gobblin-iceberg/.../writer/IcebergMetadataWriter.java:
  * file-level snapshot commits + a metadata pointer flip — here
  * re-expressed as partition-dir-level manifests, the granularity
  * Spark writes at). A single constant partition makes every commit
  * a full-table version.
  *
  * Layout:
  * {{{
  *   root/_meta/manifests/vNNNNN.json   partValue -> data dir (+ user meta)
  *   root/_meta/pointer/current.json    the committed version
  *   root/data/<uuid>/_part=<value>/    immutable partition-version dirs
  * }}}
  *
  * A commit stages ONLY the partitions its delta touches into a fresh
  * UUID directory, then writes a manifest that references the new dirs
  * for touched partitions and the PREVIOUS version's dirs for
  * everything else, and flips the pointer (temp+rename JSON — the
  * commit point). The manifest RECORD itself is delta-encoded: a
  * commit stores only its touched partitions' entries + tombstones +
  * a `base:` link to the previous version's record, compacting to a
  * self-contained full record every [[ChainLimit]] commits — so
  * commit METADATA work is O(touched) too (amortized O(table)/
  * ChainLimit), not a full-manifest rewrite per commit; a
  * 10^6-partition table's incremental epoch writes kilobytes of
  * metadata, not the whole manifest. Consequences, all load-bearing
  * at 100 TB:
  *
  *  - an epoch's write cost is O(touched partitions), not O(table) —
  *    the fix for the full-snapshot-rewrite incremental-index publish;
  *  - untouched partitions are SHARED between versions byte-for-byte
  *    (same directory, never copied), so history is delta-priced;
  *  - readers resolve the pointer once and read immutable dirs —
  *    snapshot isolation without locks; time travel = read an old
  *    manifest; rollback = pointer flip;
  *  - a crash before the pointer flip leaves orphaned UUID dirs that
  *    no manifest references (reclaimed by [[expireVersions]]) and the
  *    table on its previous version — never a torn table. User
  *    metadata (e.g. the incremental jobs' high watermark) rides the
  *    manifest, so state and data commit ATOMICALLY.
  *
  * The partition column stays a DATA column in the files (the write
  * path partitions by a `_part` string copy), so reading a manifest's
  * directories needs no partition-discovery and a partition-pruned
  * read ([[readPartitions]]) is a manifest lookup, not a listing.
  *
  * A commit writes ONE data file per touched partition: the write
  * rebalances on `_part` first, so each partition's rows reach a
  * single task instead of every task writing a file for every
  * partition it holds (with AQE on, an oversized partition is still
  * split into several files). Untouched partitions carry over with
  * their files, so a version's file count stays at the partition
  * count instead of compounding epoch over epoch.
  *
  * Manifest record keys:
  * {{{
  *   p:<part>            partition -> data dir
  *   zmin:/zmax:<part>:<col>, ztyp:<col>   zone maps (see [[commit]])
  *   schema:             the written Spark schema (JSON); reads pass it
  *                       to spark.read.schema, so opening a version runs
  *                       no schema-inference job. Records written
  *                       without it fall back to inference.
  *   m:<key>             per-commit user metadata
  *   base: chain: del:<part>   delta-record links (see `resolved`)
  * }}}
  *
  * Single writer: one instance memoises the manifest records it has
  * read or written and never re-reads them. That is safe because a
  * committed record is immutable, commits to one table are serialized
  * (the incremental jobs hold a JobLock around each epoch), and each
  * epoch constructs a fresh instance. An instance must not be kept
  * across commits made by ANOTHER instance or process: it would
  * serve that writer's rewritten records (expireVersions) stale.
  *
  * Contract: partition values must render to filesystem-safe strings
  * (ints in practice — IVF list ids, doc-hash shards) and be non-null.
  */
final class ShardedTable(val root: String, val partCol: String,
    val conf: Configuration = new Configuration()) {

  private val meta = new FsStateStore(s"$root/_meta", conf)
  private def vKey(v: Long): String = f"v$v%05d"

  /** Max delta-chain length before a commit compacts to a full
    * record. Commit metadata is O(touched) for ChainLimit-1 of every
    * ChainLimit commits and O(table)/ChainLimit amortized; resolution
    * reads at most ChainLimit records.
    */
  private val ChainLimit = 16

  /** Which partition a manifest key describes, if any. */
  private def partOf(key: String): Option[String] =
    if (key.startsWith("p:")) Some(key.stripPrefix("p:"))
    else if (key.startsWith("zmin:") || key.startsWith("zmax:"))
      Some(key.drop(5).takeWhile(_ != ':'))
    else None

  // Per-instance memo of manifest records and their resolved content
  // (safe under the single-writer assumption in the class doc;
  // expireVersions' resolution-equivalent rewrite is reflected below).
  // The win is per-commit metadata IO: resolving a delta chain re-read
  // up to ChainLimit JSON files per lookup — several lookups per epoch
  // (watermark read, touched-partition read, commit carry-over) — and
  // on an object store each read is a round trip.
  private val rawCache =
    scala.collection.mutable.HashMap.empty[Long, Map[String, String]]
  private val resolvedCache =
    scala.collection.mutable.HashMap.empty[Long, Map[String, String]]

  private def rawRecord(v: Long): Map[String, String] =
    rawCache.getOrElseUpdate(v,
      meta.get("manifests", vKey(v))
        .getOrElse(throw new IllegalArgumentException(
          s"unknown version $v of $root")))

  /** Resolve a manifest record to its FULL logical content. A record
    * is either full (self-contained) or a DELTA over `base:` — only
    * the commit's touched partitions' entries plus `del:<part>`
    * tombstones masking every base entry of a touched partition.
    * Resolution walks the base chain (bounded by [[ChainLimit]]);
    * user meta (`m:`) never inherits from the base (it is
    * per-commit), `ztyp:` rides every record so the chain never has
    * to be walked for types. Internal keys (`base:`/`chain:`/`del:`)
    * are stripped from the result.
    */
  private def resolved(v: Long, depth: Int = 0): Map[String, String] =
    resolvedCache.getOrElseUpdate(v, resolveUncached(v, depth))

  private def resolveUncached(v: Long, depth: Int): Map[String, String] = {
    // ChainLimit is enforced at write time, so a longer chain (or a
    // base cycle) only arises from a corrupted/hand-edited manifest —
    // fail loudly instead of recursing unboundedly
    require(depth <= ChainLimit + 1,
      s"manifest base chain of $root exceeds ChainLimit=$ChainLimit at " +
        s"version $v — corrupted or hand-edited manifest (cycle?)")
    val raw = rawRecord(v)
    raw.get("base:") match {
      case None => raw
      case Some(b) =>
        val base = resolved(b.toLong, depth + 1)
        val masked = raw.keysIterator
          .collect { case k if k.startsWith("del:") => k.stripPrefix("del:") }
          .toSet
        base.filter { case (k, _) =>
          !k.startsWith("m:") && partOf(k).forall(p => !masked.contains(p))
        } ++ raw.filterNot { case (k, _) =>
          k == "base:" || k == "chain:" || k.startsWith("del:")
        }
    }
  }

  def currentVersion: Option[Long] =
    meta.get("pointer", "current").flatMap(_.get("version")).map(_.toLong)

  def history: Seq[Long] =
    meta.listKeys("manifests").map(_.stripPrefix("v").toLong).sorted

  /** partValue -> data directory for `version`. */
  def manifest(version: Long): Map[String, String] =
    resolved(version)
      .collect { case (k, v) if k.startsWith("p:") => k.stripPrefix("p:") -> v }

  /** User metadata committed with `version` (watermarks etc.). `m:`
    * keys never inherit from a delta record's base, so the raw record
    * alone holds them: no chain walk.
    */
  def metaOf(version: Long): Map[String, String] =
    rawRecord(version)
      .collect { case (k, v) if k.startsWith("m:") => k.stripPrefix("m:") -> v }

  /** Zone maps committed with `version`: partition -> column ->
    * (min, max) rendered as strings ("L" prefix keys compare as
    * longs, "S" as strings — see [[commit]]'s statsCols).
    */
  def zoneStats(version: Long): Map[String, Map[String, (String, String)]] =
    resolved(version)
      .toSeq
      .collect { case (k, v) if k.startsWith("zmin:") || k.startsWith("zmax:") =>
        // zmin:<part>:<col> — the partition value is filesystem-safe
        // (no ':' — enforced at commit), the column name is the tail
        val body = k.drop(5)
        val part = body.takeWhile(_ != ':')
        val col = body.drop(part.length + 1)
        (part, col, k.take(4), v)
      }
      .groupBy(_._1)
      .map { case (part, rows) =>
        part -> rows.groupBy(_._2).map { case (col, mm) =>
          val byKind = mm.map(r => r._3 -> r._4).toMap
          col -> ((byKind("zmin"), byKind("zmax")))
        }
      }

  /** Commit `df` as the next version, rewriting ONLY the partitions in
    * `touched`: df must hold the full replacement content for those
    * partitions (and nothing else — enforced); every other partition
    * is carried over from the previous manifest untouched. A touched
    * value with no rows in df leaves the manifest (partition delete).
    * `full = true` drops ALL carry-over — the full-rebuild commit
    * (e.g. after the data dirs were deleted out from under the
    * metadata, where carrying forward would reference dead paths).
    * Returns the committed version.
    */
  def commit(df: DataFrame, touched: Seq[String],
      userMeta: Map[String, String] = Map.empty,
      full: Boolean = false, statsCols: Seq[String] = Nil): Long = {
    val id = java.util.UUID.randomUUID().toString
    val dataDir = s"$root/data/$id"
    // rebalance on _part: one writer task (so one file) per partition
    df.withColumn("_part", col(partCol).cast("string"))
      .hint("rebalance", col("_part"))
      .write.partitionBy("_part").mode("overwrite").parquet(dataDir)
    val fs = new Path(root).getFileSystem(conf)
    val staged = fs.listStatus(new Path(dataDir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_part="))
      .map(s => s.getPath.getName.stripPrefix("_part=") -> s.getPath.toString)
      .toMap
    val stray = staged.keySet -- touched.toSet
    require(stray.isEmpty,
      s"commit carries rows outside its declared touched partitions: " +
        s"${stray.toSeq.sorted.take(5).mkString(", ")}")

    // zone maps: one agg over the DELTA (O(touched), like the write) —
    // per staged partition, min/max per stats column, long or string
    // typed. Untouched partitions keep their previous stats below.
    val zoneEntries: Map[String, String] = if (statsCols.isEmpty) Map.empty else {
      import org.apache.spark.sql.types.{DateType, DoubleType, FloatType,
        IntegerType, LongType, ShortType, StringType, TimestampNTZType,
        TimestampType}
      val schema = df.schema
      val kinds = statsCols.map { c =>
        val f = schema(schema.fieldIndex(c))
        val kind = f.dataType match {
          case LongType | IntegerType | ShortType => "long"
          case StringType => "string"
          // ISO yyyy-MM-dd renders compare correctly as strings
          case DateType => "date"
          // stored as epoch MICROS (exact, engine-independent);
          // readRange bounds for timestamp columns are micros strings
          case TimestampType | TimestampNTZType => "timestamp"
          // float widens to double exactly; double round-trips its
          // string render, so bounds stay exact
          case FloatType | DoubleType => "double"
          case other => throw new IllegalArgumentException(
            s"zone-map column '$c' has unsupported type $other " +
              "(long/string/date/timestamp/double)")
        }
        require(!c.contains(":"), s"zone-map column name '$c' contains ':'")
        c -> kind
      }.toMap
      touched.foreach(p => require(!p.contains(":"),
        s"partition value '$p' contains ':' — incompatible with zone maps"))
      def render(c: Column, kind: String): Column = kind match {
        case "timestamp" => unix_micros(c.cast("timestamp")).cast("string")
        case "double" => c.cast("double").cast("string")
        case _ => c.cast("string")
      }
      val aggs = statsCols.flatMap(c => Seq(
        render(min(col(c)), kinds(c)).as(s"zmin:$c"),
        render(max(col(c)), kinds(c)).as(s"zmax:$c")))
      // aggregate the files this commit just wrote, not the delta
      // plan again — same rows, but the write above already paid for
      // computing them once. The explicit schema pins _part to STRING
      // so partition-type inference can't reshape a value ("007" must
      // stay "007"), matching the written cast-to-string render.
      val readSchema = org.apache.spark.sql.types.StructType(
        df.schema.fields :+
          org.apache.spark.sql.types.StructField("_part", StringType))
      val rows = df.sparkSession.read.schema(readSchema)
        .option("basePath", dataDir).parquet(staged.values.toSeq.sorted: _*)
        .groupBy(col("_part")).agg(aggs.head, aggs.tail: _*)
        .collect() // one row per TOUCHED partition — delta-bounded
      rows.flatMap { r =>
        val part = r.getString(0)
        statsCols.flatMap { c =>
          val mn = r.getAs[String](s"zmin:$c")
          val mx = r.getAs[String](s"zmax:$c")
          if (mn == null || mx == null) Nil // all-null column: no stats
          else Seq(s"zmin:$part:$c" -> mn, s"zmax:$part:$c" -> mx)
        }
      }.toMap ++ kinds.map { case (c, k) => s"ztyp:$c" -> k }
    }

    val touchedSet = touched.toSet
    val prev = if (full) None else currentVersion
    val prevRawRec = prev.map(rawRecord).getOrElse(Map.empty[String, String])
    // ztyp rides EVERY record (delta included), so type enforcement
    // never walks the chain; same-type enforced so long/string
    // comparisons never mix
    val prevZtyp = prevRawRec.filter(_._1.startsWith("ztyp:"))
    prevZtyp.foreach { case (k, v) =>
      zoneEntries.get(k).foreach(nv => require(nv == v,
        s"zone-map type of ${k.stripPrefix("ztyp:")} changed: $v -> $nv"))
    }
    val ownEntries =
      staged.map { case (k, d) => s"p:$k" -> d } ++
        zoneEntries ++ prevZtyp.filterNot { case (k, _) =>
          zoneEntries.contains(k) } ++
        userMeta.map { case (k, v) => s"m:$k" -> v } +
        ("schema:" -> df.schema.json)
    // a delta record is O(touched): tombstone every touched partition
    // (masking its base dirs AND stats), lay this commit's entries on
    // top, link the base. Every ChainLimit deltas the chain COMPACTS
    // into a self-contained full record so resolution stays bounded.
    val prevDepth = prevRawRec.get("chain:").map(_.toInt).getOrElse(0)
    val next = prev match {
      case Some(b) if prevDepth < ChainLimit =>
        Map("base:" -> b.toString, "chain:" -> (prevDepth + 1).toString) ++
          touched.map(p => s"del:$p" -> "1").toMap ++ ownEntries
      case _ =>
        // full record: carry untouched partitions' dirs and stats
        // from the RESOLVED previous manifest (compaction point)
        val carried = prev.map(v => resolved(v)).getOrElse(Map.empty)
          .filter { case (k, _) =>
            partOf(k).map(!touchedSet.contains(_))
              .getOrElse(k.startsWith("ztyp:") && !zoneEntries.contains(k))
          }
        carried ++ ownEntries
    }
    val version = history.lastOption.getOrElse(0L) + 1L
    meta.put("manifests", vKey(version), next)
    rawCache(version) = next
    // the commit point: readers see the new version only after this
    meta.put("pointer", "current", Map("version" -> version.toString))
    version
  }

  /** Time travel: read an explicit version (union of its manifest's
    * immutable partition dirs; the partition column is a data column).
    */
  def read(spark: SparkSession, version: Long): DataFrame = {
    val dirs = manifest(version).values.toSeq.sorted
    require(dirs.nonEmpty, s"version $version of $root has no partitions")
    reader(spark, version).parquet(dirs: _*)
  }

  /** A parquet reader carrying `version`'s recorded schema, so the
    * scan needs no inference job; records from before `schema:` was
    * recorded infer as before.
    */
  private def reader(spark: SparkSession, version: Long): DataFrameReader =
    resolved(version).get("schema:").fold(spark.read)(s =>
      spark.read.schema(DataType.fromJson(s).asInstanceOf[StructType]))

  def readCurrent(spark: SparkSession): DataFrame =
    read(spark, currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed version in $root")))

  /** Manifest-pruned read: only the named partitions' directories are
    * opened — no listing, no footer reads outside the selection. The
    * scale seam for probe-list ANN search (read nProbe lists, not the
    * corpus) and for touched-shard maintenance reads. Unknown values
    * (never-committed partitions) resolve to nothing, matching an
    * empty-partition read.
    */
  def readPartitions(spark: SparkSession, values: Seq[String],
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no committed version in $root"))
    val m = manifest(v)
    val dirs = values.distinct.flatMap(m.get).sorted
    if (dirs.isEmpty) {
      // preserve schema from any existing partition; a table with NO
      // partitions at all cannot answer a schemaful empty read
      val all = m.values.toSeq.sorted
      require(all.nonEmpty, s"version $v of $root has no partitions")
      reader(spark, v).parquet(all.head).limit(0)
    } else reader(spark, v).parquet(dirs: _*)
  }

  /** Zone-map-pruned range read: open only partitions whose committed
    * [min, max] for `column` intersects [lo, hi] (both bounds
    * inclusive; either may be None for a half-open range). Partitions
    * with no stats for `column` are kept — pruning is never allowed
    * to change results, only to skip provably-disjoint data. The
    * caller still applies its exact predicate; this is the scan-
    * planning half (the manifest-level analog of parquet row-group
    * min/max skipping, one metadata lookup instead of a million
    * footer reads at 100 TB).
    */
  def readRange(spark: SparkSession, column: String,
      lo: Option[String], hi: Option[String],
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no committed version in $root"))
    val typ = resolved(v).getOrElse(s"ztyp:$column", "string")
    def lt(a: String, b: String): Boolean = typ match {
      case "long" | "timestamp" => a.toLong < b.toLong // micros for ts
      case "double" => a.toDouble < b.toDouble // NaN compares false: keep
      case _ => a < b // string + ISO date
    }
    val stats = zoneStats(v)
    val keep = manifest(v).keys.toSeq.filter { part =>
      stats.get(part).flatMap(_.get(column)) match {
        case None => true // no stats: cannot prune
        case Some((mn, mx)) =>
          !(lo.exists(l => lt(mx, l)) || hi.exists(h => lt(h, mn)))
      }
    }
    readPartitions(spark, keep, Some(v))
  }

  /** Roll the pointer to an existing version; history untouched. */
  def rollback(version: Long): Unit = {
    require(history.contains(version), s"unknown version $version of $root")
    meta.put("pointer", "current", Map("version" -> version.toString))
  }

  /** Reclaim history: drop all but the newest `keepLast` manifests
    * (the current version always survives) and delete every partition
    * directory no kept manifest references — including orphans from
    * crashed commits. The expire-snapshots division of labor. Returns
    * the number of partition dirs deleted.
    */
  def expireVersions(keepLast: Int): Int = {
    require(keepLast >= 1, "must keep at least one version")
    val all = history
    val keep = (all.takeRight(keepLast) ++ currentVersion).distinct
    val dropped = all.filterNot(keep.contains)
    // a surviving DELTA record may chain through a dropped ancestor:
    // materialize every kept delta to its resolved full content first
    // (resolution-equivalent rewrite), then the ancestors can go
    keep.foreach { v =>
      if (rawRecord(v).contains("base:")) {
        val full = resolved(v)
        meta.put("manifests", vKey(v), full)
        rawCache(v) = full
      }
    }
    val referenced = keep.flatMap(v => manifest(v).values).toSet
    dropped.foreach { v =>
      meta.delete("manifests", vKey(v))
      rawCache -= v
      resolvedCache -= v
    }
    val fs = new Path(root).getFileSystem(conf)
    val dataRoot = new Path(s"$root/data")
    var deleted = 0
    if (fs.exists(dataRoot)) {
      fs.listStatus(dataRoot).filter(_.isDirectory).foreach { uuidDir =>
        fs.listStatus(uuidDir.getPath).filter(_.isDirectory).foreach { part =>
          if (!referenced.contains(part.getPath.toString)) {
            fs.delete(part.getPath, true)
            deleted += 1
          }
        }
        if (fs.listStatus(uuidDir.getPath).isEmpty)
          fs.delete(uuidDir.getPath, true)
      }
    }
    deleted
  }
}

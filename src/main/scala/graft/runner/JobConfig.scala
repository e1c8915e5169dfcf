package graft.runner

import java.io.StringReader
import java.util.Properties

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{NormalizeNfc, StripAccents, Text}
import graft.model.JobSpec
import graft.operators.{AnnIndex, Converters}
import graft.operators.Converters.Op
import graft.quality.Quality
import graft.state.FsStateStore

/** Properties-file job definitions — the `.pull`/`.job` file interface
  * of the reference (EmbeddedGobblin / job config files,
  * gobblin-runtime/.../embedded/EmbeddedGobblin.java:118-121), so a
  * declarative job is one text file:
  *
  * {{{
  * job.name=events_ingest
  * source.format=parquet
  * source.path=/data/events
  * source.watermark.expr=unix_micros(ts)
  * ops=timePartition,pick
  * op.timePartition.column=ts
  * op.pick.fields=event_id,user_id,value,date_key,wm
  * policy.row.value_present.predicate=value IS NOT NULL
  * policy.row.value_present.type=FAIL
  * policy.task.min.rows=1
  * sink.staging=/data/staging/events
  * sink.output=/data/out/events
  * sink.partitionBy=date_key
  * state.dir=/data/state
  * quarantine.dir=/data/quarantine/events
  * }}}
  *
  * Op vocabulary (ordered via `ops=`): filter, pick, timePartition,
  * regexFilter, sample, dropColumns, sqlExpr, grok (pattern-library
  * parse), encrypt/decrypt (rotating-AES over a JSON keystore),
  * scrubPii (email/IP/phone redaction), normalize (NFC, optional
  * accent strip), stratifiedSample (per-group keep fractions, e.g.
  * `op.stratifiedSample.fractions=en:0.5,de:0.25`), lmFilter,
  * temperatureResample, zorderKey, substringDedup (exact-substring
  * removal; `op.substringDedup.{idColumn,textColumn,gramTokens}`),
  * importanceFilter (DSIR hashed n-gram selection;
  * `op.importanceFilter.{idColumn,textColumn,minAvgWeight,
  * targetPredicate}`), quotaSample (largest-remainder budget split;
  * `op.quotaSample.{groupColumn,idColumn,k}`), heavyHitters
  * (`op.heavyHitters.{key,k}`), funnel (ordered step matching;
  * `op.funnel.{keyColumn,typeColumn,msColumn,steps,maxGapMs}`),
  * tripletMine (contrastive pair synthesis;
  * `op.tripletMine.{anchorPredicate,embPath,idColumn,textColumn,
  * embIdColumn,embVecColumn}`), classifyFilter (filter by a published
  * classifier model), assignSplit (leakage-safe group-atomic splits),
  * preferencePairs, mixturePlan, phraseFilter (Aho-Corasick
  * blocklist), linkRank (PageRank report),
  * canonicalizeUrl, fetchList (politeness fetch cycle),
  * anchorText (per-target top-k anchors), resolveRedirects (alias →
  * terminal), curriculum (easy→hard training order).
  * Predicates/expressions are Spark SQL fragments (`expr(...)`) — the
  * full column-function surface without naming JVM classes, replacing
  * the reference's `converter.classes` FQCN lists.
  */
object JobConfig {

  def parse(text: String): Properties = {
    val p = new Properties()
    p.load(new StringReader(text))
    p
  }

  private def req(p: Properties, key: String): String =
    Option(p.getProperty(key)).map(_.trim)
      .getOrElse(throw new IllegalArgumentException(s"missing config: $key"))

  /** Load the job's declared batch source. `source.format=zipnum`
    * reads a ZipNum CDX distribution (cdx-*.gz shards + cluster.idx,
    * or the per-shard .idx variant) through `CdxIndex.readZipnum` —
    * any declarative job can consume a Common Crawl index drop
    * directly, optionally narrowed by `source.urlkeyPrefix`; every
    * other format goes through the standard DataFrameReader.
    */
  private def loadSource(spark: SparkSession, p: Properties): DataFrame =
    opt(p, "source.format").getOrElse("parquet") match {
      case "zipnum" =>
        graft.operators.CdxIndex.readZipnum(spark, req(p, "source.path"),
          opt(p, "source.urlkeyPrefix"))
      case f => spark.read.format(f).load(req(p, "source.path"))
    }

  /** What a run of this job reads, as one SHA-256: the sorted
    * `(path, mtime, length)` of every non-hidden file under
    * `source.path` (recursive) and the job's full properties, so any
    * config change also differs. None when the source holds no such
    * file (or does not exist). List BEFORE the read: a file landing
    * in between is read but not recorded, so the next run differs and
    * takes the full path. Contract: a listed file with the same length
    * and mtime has the same content — the assumption Spark's own file
    * source makes.
    */
  private def sourceFingerprint(conf: org.apache.hadoop.conf.Configuration,
      p: Properties): Option[String] = {
    val files = graft.sources.FileDiffSource.plan(req(p, "source.path"), Map.empty, conf).snapshot
    if (files.isEmpty) None
    else {
      import scala.jdk.CollectionConverters._
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val props = p.stringPropertyNames.asScala.toSeq.map(k => k -> p.getProperty(k))
      (files.toSeq.sorted ++ Seq("" -> "") ++ props.sorted).foreach { case (k, v) =>
        md.update(s"$k\u0000$v\u0000".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      Some(md.digest().map(b => f"$b%02x").mkString)
    }
  }

  private def opt(p: Properties, key: String): Option[String] =
    Option(p.getProperty(key)).map(_.trim).filter(_.nonEmpty)

  def buildOps(p: Properties): Seq[Op] =
    opt(p, "ops").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil).map {
      case "filter" => Converters.filterWhere(expr(req(p, "op.filter.predicate")))
      case "pick" => Converters.pickFields(
        req(p, "op.pick.fields").split(",").map(_.trim).toIndexedSeq: _*)
      case "timePartition" => Converters.withTimePartition(req(p, "op.timePartition.column"))
      case "regexFilter" => Converters.regexFilter(
        req(p, "op.regexFilter.column"), req(p, "op.regexFilter.pattern"))
      case "sample" => Converters.sampleDeterministic(
        req(p, "op.sample.idColumn"), req(p, "op.sample.mod").toInt)
      case "dropColumns" => (df: DataFrame) =>
        df.drop(req(p, "op.dropColumns.fields").split(",").map(_.trim).toIndexedSeq: _*)
      case "sqlExpr" => (df: DataFrame) =>
        df.selectExpr(req(p, "op.sqlExpr.exprs").split(";").map(_.trim).toIndexedSeq: _*)
      case "grok" => Converters.grok(
        req(p, "op.grok.column"), req(p, "op.grok.pattern"),
        dropSource = opt(p, "op.grok.keepSource").isEmpty)
      case "encrypt" => (df: DataFrame) => {
        import graft.functions.RotatingAes
        val store = RotatingAes.CredentialStore.fromJsonFile(req(p, "op.encrypt.keystore"))
        val c = req(p, "op.encrypt.column")
        df.withColumn(c,
          RotatingAes.encrypt(col(c), RotatingAes.pickKeyId(store, col(req(p, "op.encrypt.idColumn"))), store))
      }
      case "decrypt" => (df: DataFrame) => {
        import graft.functions.RotatingAes
        val store = RotatingAes.CredentialStore.fromJsonFile(req(p, "op.decrypt.keystore"))
        val c = req(p, "op.decrypt.column")
        df.withColumn(c, RotatingAes.decrypt(col(c), store).cast("string"))
      }
      case "scrubPii" => (df: DataFrame) => {
        val c = req(p, "op.scrubPii.column")
        df.withColumn(c, Text.scrubPii(col(c)))
      }
      case "normalize" => (df: DataFrame) => {
        val c = req(p, "op.normalize.column")
        val nfc = NormalizeNfc(col(c))
        df.withColumn(c,
          if (opt(p, "op.normalize.stripAccents").exists(_.toBoolean)) StripAccents(nfc)
          else nfc)
      }
      case "stratifiedSample" => {
        val fractions = req(p, "op.stratifiedSample.fractions").split(",").map { kv =>
          kv.trim.split(":") match {
            case Array(g, f) =>
              val frac = try f.toDouble catch {
                case _: NumberFormatException => throw new IllegalArgumentException(
                  s"op.stratifiedSample.fractions: non-numeric fraction in entry '${kv.trim}'")
              }
              g -> frac
            case _ => throw new IllegalArgumentException(
              s"op.stratifiedSample.fractions: entry '${kv.trim}' is not group:fraction")
          }
        }.toMap
        Converters.sampleFractionPerGroup(
          req(p, "op.stratifiedSample.groupColumn"),
          req(p, "op.stratifiedSample.idColumn"), fractions,
          opt(p, "op.stratifiedSample.defaultFraction").map(_.toDouble).getOrElse(1.0))
      }
      case "lmFilter" => (df: DataFrame) => {
        // offline-fit/apply in one op: the LM fits on the configured
        // slice of the SAME frame, then every row is floor-filtered
        import graft.functions.NgramLm
        val textCol = req(p, "op.lmFilter.textColumn")
        val idCol = req(p, "op.lmFilter.idColumn")
        val floor = req(p, "op.lmFilter.minHitRatio").toDouble
        val train = opt(p, "op.lmFilter.trainPredicate")
          .map(pr => df.filter(expr(pr))).getOrElse(df)
        val fitted = NgramLm.train(train, textCol)
        // cache the vocab-sized model tables: without this, every
        // action over the filtered frame re-runs the full training
        // aggregations (uni appears twice in one scoring plan)
        val lm = NgramLm.Lm(fitted.uni.persist(), fitted.probs.persist())
        df.join(
          NgramLm.score(df, idCol, textCol, lm)
            .filter(col("hit_ratio") >= floor)
            .select(col("id").as(idCol)),
          Seq(idCol), "left_semi")
      }
      case "temperatureResample" => (df: DataFrame) =>
        Converters.temperatureResample(df,
          req(p, "op.temperatureResample.domainColumn"),
          req(p, "op.temperatureResample.idColumn"))
      case "importanceFilter" => (df: DataFrame) => {
        // DSIR-style selection: weights fit on the target slice of the
        // SAME frame, docs kept when their exact integer score clears
        // minAvgWeight per gram (2^20 = neutral); gram-less docs drop
        import graft.functions.Importance
        val textCol = req(p, "op.importanceFilter.textColumn")
        val idCol = req(p, "op.importanceFilter.idColumn")
        val minAvg = req(p, "op.importanceFilter.minAvgWeight").toLong
        val n = opt(p, "op.importanceFilter.gramTokens").map(_.toInt).getOrElse(2)
        val buckets = opt(p, "op.importanceFilter.buckets").map(_.toInt).getOrElse(65536)
        val target = opt(p, "op.importanceFilter.targetPredicate")
          .map(pr => df.filter(expr(pr))).getOrElse(df)
        val w = Importance.bucketWeights(target, textCol, df, textCol, n, buckets)
        df.join(
          Importance.score(df, idCol, textCol, w, n, buckets)
            .filter(col("n_grams") > 0 &&
              col("score") >= col("n_grams") * minAvg)
            .select(col(idCol)),
          Seq(idCol), "left_semi")
      }
      case "substringDedup" => (df: DataFrame) => {
        // exact-substring removal (Lee et al. ExactSubstr): duplicated
        // runs of >= minSpanTokens tokens drop from every document;
        // the cleaned text replaces the text column in place
        import graft.operators.SubstringDedup
        val textCol = req(p, "op.substringDedup.textColumn")
        val k = opt(p, "op.substringDedup.gramTokens").map(_.toInt).getOrElse(10)
        val minSpan = opt(p, "op.substringDedup.minSpanTokens")
          .map(_.toInt).getOrElse(0)
        // fail fast instead of silently clobbering user columns that
        // collide with removeSpans' outputs
        val clash = df.columns.toSet
          .intersect(Set("n_tokens", "n_dup_tokens", "clean_text"))
        if (clash.nonEmpty) throw new IllegalArgumentException(
          s"op.substringDedup: input columns ${clash.mkString(", ")} " +
            "collide with the op's output columns; rename them upstream")
        SubstringDedup.removeSpans(
            df, req(p, "op.substringDedup.idColumn"), textCol, k, minSpan)
          .withColumn(textCol, col("clean_text"))
          .drop("n_tokens", "n_dup_tokens", "clean_text")
      }
      case "zorderKey" => (df: DataFrame) => {
        import graft.functions.ZOrder
        df.withColumn(
          opt(p, "op.zorderKey.as").getOrElse("zkey"),
          ZOrder.zkey16(
            pmod(expr(req(p, "op.zorderKey.x")), lit(65536)).cast("long"),
            pmod(expr(req(p, "op.zorderKey.y")), lit(65536)).cast("long")))
      }
      case "quotaSample" => (df: DataFrame) =>
        graft.operators.QuotaSample.quotaSample(df,
          req(p, "op.quotaSample.groupColumn"),
          req(p, "op.quotaSample.idColumn"),
          req(p, "op.quotaSample.k").toLong)
      case "heavyHitters" => (df: DataFrame) =>
        // REPORT op: the frame becomes its (key, cnt) heavy-hitter
        // table — every value of the keyed expression with frequency
        // strictly above n/k
        graft.operators.HeavyHitters.heavyHitters(df,
          expr(req(p, "op.heavyHitters.key")),
          req(p, "op.heavyHitters.k").toInt)
      case "funnel" => (df: DataFrame) =>
        // REPORT op: per-key ordered step matching (the one-shot
        // form; job.type=funnel is the watermarked incremental face)
        graft.operators.Funnel.funnel(df,
          req(p, "op.funnel.keyColumn"),
          req(p, "op.funnel.typeColumn"),
          req(p, "op.funnel.msColumn"),
          req(p, "op.funnel.steps").split(",").map(_.trim).toSeq,
          req(p, "op.funnel.maxGapMs").toLong)
      case "tripletMine" => (df: DataFrame) => {
        // contrastive training-pair synthesis: anchors are a predicate
        // slice of the SAME frame; embeddings are a side table (path)
        val anchors = df.filter(expr(req(p, "op.tripletMine.anchorPredicate")))
        val emb = df.sparkSession.read
          .format(opt(p, "op.tripletMine.embFormat").getOrElse("parquet"))
          .load(req(p, "op.tripletMine.embPath"))
        graft.operators.TripletMining.mine(df, emb, anchors,
          req(p, "op.tripletMine.idColumn"),
          req(p, "op.tripletMine.textColumn"),
          req(p, "op.tripletMine.embIdColumn"),
          req(p, "op.tripletMine.embVecColumn"),
          kCand = opt(p, "op.tripletMine.kCand").map(_.toInt).getOrElse(10),
          nNeg = opt(p, "op.tripletMine.nNeg").map(_.toInt).getOrElse(3),
          negMaxSim = opt(p, "op.tripletMine.negMaxSim")
            .map(_.toDouble).getOrElse(0.15))
      }
      case "assignSplit" => (df: DataFrame) => {
        // leakage-safe split: whole GROUPS land in one split
        val splits = req(p, "op.assignSplit.splits").split(",").map { kv =>
          kv.split(":") match {
            case Array(n, f) => n.trim -> f.trim.toDouble
            case _ => throw new IllegalArgumentException(
              s"op.assignSplit.splits: entry '${kv.trim}' is not name:fraction")
          }
        }.toSeq
        graft.operators.SftPrep.assignSplit(df,
          req(p, "op.assignSplit.groupColumn"), splits,
          seed = opt(p, "op.assignSplit.seed").getOrElse("graft"))
      }
      case "preferencePairs" => (df: DataFrame) =>
        // REPORT op: the frame becomes its chosen/rejected pair table
        graft.operators.SftPrep.preferencePairs(df,
          req(p, "op.preferencePairs.groupColumn"),
          req(p, "op.preferencePairs.idColumn"),
          req(p, "op.preferencePairs.scoreColumn"),
          minMargin = opt(p, "op.preferencePairs.minMargin")
            .map(_.toLong).getOrElse(1L))
      case "classifyFilter" => (df: DataFrame) => {
        // classifier-based quality filter: weights derive from a
        // PUBLISHED job.type=classify model table (current version);
        // rows keep when predicted keepLabel with margin >= minMargin
        import graft.operators.TextClassifier
        val table = new graft.sink.ShardedTable(
          req(p, "op.classifyFilter.modelPath"), "shard",
          df.sparkSession.sparkContext.hadoopConfiguration)
        val (counts, docCounts) = TextClassifier.fromState(
          table.readCurrent(df.sparkSession))
        val (weights, classInfo) = TextClassifier.weightsFromCounts(counts, docCounts)
        val idCol = req(p, "op.classifyFilter.idColumn")
        val keep = TextClassifier.predictWithMargin(df, idCol,
            req(p, "op.classifyFilter.textColumn"), weights, classInfo)
          .filter(col("pred_label") === req(p, "op.classifyFilter.keepLabel") &&
            col("margin") >= opt(p, "op.classifyFilter.minMargin")
              .map(_.toLong).getOrElse(1L))
          .select(col(idCol))
        df.join(keep, Seq(idCol), "left_semi")
      }
      case "phraseFilter" => (df: DataFrame) =>
        // blocklist filter: drop rows containing ANY configured phrase
        // (Aho-Corasick single pass; phrases are |-separated so they
        // may contain spaces and commas)
        graft.functions.PhraseMatch.filterClean(df,
          req(p, "op.phraseFilter.column"),
          req(p, "op.phraseFilter.phrases").split("\\|").map(_.trim)
            .filter(_.nonEmpty).toSeq)
      case "linkRank" => (df: DataFrame) =>
        // REPORT op: the frame becomes its (node, rank) table
        graft.operators.LinkRank.pagerank(df,
          req(p, "op.linkRank.srcColumn"),
          req(p, "op.linkRank.dstColumn"),
          iterations = opt(p, "op.linkRank.iterations")
            .map(_.toInt).getOrElse(10))
      case "canonicalizeUrl" => (df: DataFrame) => {
        val c = req(p, "op.canonicalizeUrl.column")
        df.withColumn(opt(p, "op.canonicalizeUrl.outColumn").getOrElse(c),
          Text.canonicalizeUrl(col(c)))
      }
      case "fetchList" => (df: DataFrame) =>
        // REPORT op: the frame becomes the selected fetch list
        graft.operators.CrawlFrontier.generateFetchList(df,
          req(p, "op.fetchList.urlColumn"),
          req(p, "op.fetchList.hostColumn"),
          req(p, "op.fetchList.scoreColumn"),
          topN = req(p, "op.fetchList.topN").toLong,
          maxPerHost = req(p, "op.fetchList.maxPerHost").toInt)
      case "anchorText" => (df: DataFrame) =>
        // REPORT op: the frame becomes the per-target anchor summary
        graft.operators.CrawlFrontier.anchorText(df,
          req(p, "op.anchorText.dstColumn"),
          req(p, "op.anchorText.anchorColumn"),
          k = opt(p, "op.anchorText.k").map(_.toInt).getOrElse(5))
      case "resolveRedirects" => (df: DataFrame) =>
        // REPORT op: the frame becomes (src, target, hops, resolved)
        graft.operators.CrawlFrontier.resolveRedirects(df,
          req(p, "op.resolveRedirects.srcColumn"),
          req(p, "op.resolveRedirects.dstColumn"),
          maxHops = opt(p, "op.resolveRedirects.maxHops")
            .map(_.toInt).getOrElse(32))
      case "curriculum" => (df: DataFrame) =>
        graft.operators.Curriculum.order(df,
          req(p, "op.curriculum.idColumn"),
          req(p, "op.curriculum.difficultyColumn"),
          stages = req(p, "op.curriculum.stages").toInt,
          salt = opt(p, "op.curriculum.salt").getOrElse("cur"))
      case "mixturePlan" => (df: DataFrame) => {
        // REPORT op: the frame becomes its per-source epoch plan
        val weights = req(p, "op.mixturePlan.weights").split(",").map { kv =>
          kv.split(":") match {
            case Array(g, w) => g.trim -> w.trim.toLong
            case _ => throw new IllegalArgumentException(
              s"op.mixturePlan.weights: entry '${kv.trim}' is not group:weight")
          }
        }.toMap
        graft.operators.MixturePlan.plan(df,
          req(p, "op.mixturePlan.groupColumn"),
          req(p, "op.mixturePlan.tokColumn"), weights,
          req(p, "op.mixturePlan.budgetTokens").toLong,
          maxEpochs = opt(p, "op.mixturePlan.maxEpochs").map(_.toLong).getOrElse(4L))
      }
      case "scrubExif" => (df: DataFrame) => {
        // privacy scrub over a binary media column: Exif/XMP metadata
        // (GPS, timestamps, device ids) removed from JPEG/WebP
        // payloads, pixels untouched, orientation preserved; adds
        // modality + had_gps columns for the compliance audit trail
        val idCol = req(p, "op.scrubExif.idColumn")
        val bytesCol = req(p, "op.scrubExif.bytesColumn")
        // the id must survive a long round-trip: a row whose id
        // doesn't cast would silently vanish from the inner join, so
        // raise instead of dropping it from a privacy-critical path
        val idNum = col(idCol).cast("long")
        val scrubbed = graft.operators.Multimodal.scrubExifGps(
          df.select(
            when(idNum.isNull, raise_error(concat(
              lit(s"op.scrubExif: id column '$idCol' not numeric: "),
              col(idCol).cast("string")))).otherwise(idNum).as("media_id"),
            col(bytesCol).as("content"))).toDF()
          .select(col("media_id").as(idCol), col("modality"),
            col("had_gps"), col("content").as(bytesCol))
        // pre-existing audit columns would make the join ambiguous
        df.drop(bytesCol, "modality", "had_gps").join(scrubbed, idCol)
      }
      case "trimAudio" => (df: DataFrame) => {
        // ASR-prep silence trim over a binary WAV column: leading and
        // trailing sub-threshold frames cut, other columns carried
        val idCol = req(p, "op.trimAudio.idColumn")
        val bytesCol = req(p, "op.trimAudio.bytesColumn")
        val threshold = opt(p, "op.trimAudio.threshold")
          .map(_.toInt).getOrElse(0)
        val spark = df.sparkSession
        import spark.implicits._
        val idNum = col(idCol).cast("long")
        val trimmed = df.select(
          when(idNum.isNull, raise_error(concat(
            lit(s"op.trimAudio: id column '$idCol' not numeric: "),
            col(idCol).cast("string")))).otherwise(idNum).as("_id"),
          col(bytesCol))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (id, c) =>
            (id, graft.operators.Multimodal.WavCodec
              .trimSilence(id, c, threshold))
          }).toDF(idCol, bytesCol)
        df.drop(bytesCol).join(trimmed, idCol)
      }
      case "extractDocText" => (df: DataFrame) => {
        // sniff-dispatched text extraction over a binary payload
        // column: PDFs through PdfText, DOCX/ODT containers through
        // OfficeText, everything else decoded UTF-8 and
        // HTML-stripped — the crawl chain's document-text seam
        val bytesCol = req(p, "op.extractDocText.bytesColumn")
        val outCol = opt(p, "op.extractDocText.outColumn").getOrElse("text")
        val spark = df.sparkSession
        import spark.implicits._
        val idCol = req(p, "op.extractDocText.idColumn")
        val extracted = df.select(col(idCol).cast("long"), col(bytesCol))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (id, c) =>
            graft.operators.Multimodal.sniffModality(c) match {
              case "application/pdf" =>
                (id, graft.operators.PdfText.extract(id, c)
                  .text.replace('\n', ' '))
              case "application/zip"
                if graft.operators.OfficeText.classifyZip(id, c) != "zip" =>
                (id, graft.operators.OfficeText.extract(id, c)
                  .text.replace('\n', ' ').replace('\t', ' '))
              case "text/rtf" =>
                (id, graft.operators.RtfText.extract(id, c)
                  .replace('\n', ' ').replace('\t', ' '))
              case "text/vtt" =>
                (id, graft.operators.Subtitles.parse(id, c)._2
                  .map(_.text.replace('\n', ' ')).mkString(" "))
              case _ =>
                (id, new String(c, java.nio.charset.StandardCharsets.UTF_8))
            }
          }).toDF(idCol, "_raw")
          .select(col(idCol), Text.stripHtml(col("_raw")).as(outCol))
        df.drop(bytesCol).join(extracted, idCol)
      }
      case other => throw new IllegalArgumentException(s"unknown op: $other")
    }

  def buildRowPolicies(p: Properties): Seq[Quality.RowPolicy] = {
    import scala.jdk.CollectionConverters._
    p.stringPropertyNames.asScala.toSeq.sorted
      .filter(k => k.startsWith("policy.row.") && k.endsWith(".predicate"))
      .map { k =>
        val name = k.stripPrefix("policy.row.").stripSuffix(".predicate")
        val ptype = opt(p, s"policy.row.$name.type").getOrElse("FAIL") match {
          case "FAIL" => Quality.Fail
          case "ERR_FILE" => Quality.ErrFile
          case "OPTIONAL" => Quality.Optional
          case other => throw new IllegalArgumentException(s"unknown policy type: $other")
        }
        Quality.RowPolicy(name, expr(p.getProperty(k)), ptype)
      }
  }

  def buildTaskPolicies(p: Properties): Seq[Quality.TaskPolicy] =
    opt(p, "policy.task.min.rows").map { min =>
      Quality.TaskPolicy("min_rows", mandatory = true,
        m => m("rows").asInstanceOf[Long] >= min.toLong)
    }.toSeq

  /** Dispatch on `job.type` — the reference's job templates as one
    * properties file each (ingest is the default; compaction jobs,
    * distcp/replication jobs and retention jobs are the other config-
    * driven job families a reference user runs). Returns a flat
    * string summary so every job type reports uniformly (and can land
    * in the state store unchanged).
    */
  def runAny(spark: SparkSession, p: Properties): Map[String, String] =
    opt(p, "job.type").getOrElse("ingest") match {
      case "ingest" =>
        val r = run(spark, p)
        Map("rowsWritten" -> r.rowsWritten.toString,
          "published" -> r.published.toString,
          "quarantined" -> r.quarantined.toString,
          "highWatermark" -> r.highWatermark.map(_.toString).getOrElse(""))

      case "compact" =>
        import graft.sink.SinkSpec
        val spec = SinkSpec(req(p, "sink.staging"), req(p, "sink.output"))
        val keys = req(p, "compact.keys").split(",").map(_.trim).toSeq
        val delta = opt(p, "compact.delta")
          .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
        graft.operators.Compaction.compact(spark, req(p, "source.path"), spec,
          keys, delta,
          minRowsThreshold = opt(p, "compact.min.rows").map(_.toLong).getOrElse(0L),
          registerAs = opt(p, "compact.registerAs")) match {
          case Right(st) => Map("published" -> "true",
            "inputRows" -> st.inputRows.toString, "outputRows" -> st.outputRows.toString)
          case Left(reason) => Map("published" -> "false", "reason" -> reason)
        }

      case "copy" =>
        import graft.operators.FsCopy
        import graft.sources.DatasetFinder
        val splitSize = opt(p, "copy.splitSize").map(_.toLong).getOrElse(128L * 1024 * 1024)
        val plan = opt(p, "source.glob") match {
          case Some(glob) =>
            // multi-dataset replication: glob discovery + optional
            // date-pattern window over version dirs
            val vers = DatasetFinder.versions(spark, DatasetFinder.findDatasets(spark, glob))
            val sel = (opt(p, "copy.datePattern"), opt(p, "copy.window.from"), opt(p, "copy.window.to")) match {
              case (Some(pat), Some(from), Some(to)) =>
                DatasetFinder.inWindow(vers, pat,
                  lit(from).cast("timestamp"), lit(to).cast("timestamp"))
              case _ => vers
            }
            val selected = sel.select(col("dataset"), col("version"), col("path"))
              .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
            DatasetFinder.planCopies(spark, selected, req(p, "copy.dest"), splitSize)
          case None =>
            FsCopy.plan(spark, req(p, "source.path"), req(p, "copy.dest"), splitSize)
        }
        val res = FsCopy.execute(plan)
        val errs = FsCopy.verify(plan)
        if (errs.nonEmpty)
          throw new IllegalStateException(s"copy verification failed: ${errs.mkString("; ")}")
        Map("files" -> res.files.toString, "bytes" -> res.bytes.toString)

      case "retention" =>
        import graft.operators.Retention
        val versions = Retention.listVersions(spark, req(p, "source.path"))
        val dated = opt(p, "retention.datePattern")
          .map(Retention.withPathTime(versions, _)).getOrElse(versions)
        val survivorSets = Seq(
          opt(p, "retention.newest.k").map(k => Retention.newestK(dated,
            Seq("dataset"), Seq(col("version")), k.toInt)),
          opt(p, "retention.minVersionTime").map(t => Retention.newerThan(dated,
            if (opt(p, "retention.datePattern").isDefined) "version_time" else "mod_time",
            lit(t).cast("timestamp")))).flatten
        require(survivorSets.nonEmpty, "retention job needs at least one policy")
        val survivors = opt(p, "retention.combine").getOrElse("intersect") match {
          case "intersect" => Retention.keepIntersect(survivorSets)
          case "union" => Retention.keepUnion(survivorSets)
          case other => throw new IllegalArgumentException(s"unknown combine: $other")
        }
        val paths = Retention.deletable(dated, survivors)
          .select(col("path")).collect().map(_.getString(0)).toSeq
        val n = Retention.deleteVersions(spark, paths, trashDir = opt(p, "retention.trash"))
        Map("deletedVersions" -> n.toString)

      case "scd2" =>
        // incremental CDC -> SCD2 dimension maintenance as a config
        // job: read the changelog above the published watermark and
        // merge ONLY those events (touched keys recompute;
        // Scd2.merge). The dimension persists as a key-hash-sharded
        // ShardedTable: an epoch rewrites only the shards its delta's
        // keys fall in — at a 100 TB dimension the rewrite, not the
        // merge, was the bottleneck — and every epoch is a
        // time-travelable version with the watermark in its manifest.
        import graft.operators.Scd2
        val key = req(p, "scd2.key")
        val seqCol = req(p, "scd2.seq")
        val opCol = req(p, "scd2.op")
        val attrs = req(p, "scd2.attrs").split(",").map(_.trim).toSeq
        val nShards = opt(p, "scd2.shards").map(_.toInt).getOrElse(32)
        val scd2Shard = pmod(hash(col(key)), lit(nShards)).cast("int")
        incrementalShardedPublish(spark, p, kind = "scd2", seqCol,
          partCol = "shard",
          touchedCol = Some(scd2Shard)) { (table, hasCurrent, delta, pre) =>
          val touched = pre.get
          val merged =
            if (!hasCurrent) Scd2.fromChangelog(delta, key, seqCol, opCol, attrs)
            else Scd2.merge(table.readPartitions(spark, touched).drop("shard"),
              delta, key, seqCol, opCol, attrs)
          (merged.withColumn("shard", scd2Shard), touched, () => ())
        }

      case "rollup" =>
        // incremental rollup maintenance as a config job: aggregate
        // only the delta above the published watermark into mergeable
        // state (IncrementalRollup) and merge with the published
        // state — the materialized-view refresh a reference user
        // schedules instead of recomputing from raw history. State
        // persists as a dims-hash-sharded ShardedTable (epoch
        // rewrites = delta-touched shards only); the watermark in the
        // manifest commits atomically at the pointer flip, so a crash
        // anywhere can never double-apply the ADDITIVE merge.
        import graft.operators.IncrementalRollup
        val dims = req(p, "rollup.dims").split(",").map(_.trim).toSeq
        val measure = req(p, "rollup.measure")
        val rShards = opt(p, "rollup.shards").map(_.toInt).getOrElse(32)
        // the shard is a pure function of the dims, so the touched set
        // over the raw delta equals the one over the aggregated state
        val rollupShard = pmod(hash(dims.map(col): _*), lit(rShards)).cast("int")
        incrementalShardedPublish(spark, p, kind = "rollup",
          req(p, "rollup.seq"), partCol = "shard",
          touchedCol = Some(rollupShard)) { (table, hasCurrent, delta, pre) =>
          val deltaState = IncrementalRollup.init(delta, dims, measure)
          val touched = pre.get
          val merged =
            if (!hasCurrent) deltaState
            else IncrementalRollup.merge(
              table.readPartitions(spark, touched).drop("shard"),
              deltaState, dims)
          (merged.withColumn("shard", rollupShard), touched, () => ())
        }

      case "index" =>
        // incremental BM25 inverted-index maintenance as a config job:
        // docs above the published watermark re-index and REPLACE
        // their rows (delta-wins); untouched docs never recompute. The
        // index persists as a doc-hash-SHARDED versioned table
        // (ShardedTable), so an epoch rewrites only the shards its
        // delta touches — never the whole index — and every epoch is
        // a time-travelable version. The searchable-corpus face of
        // the incremental job family (scd2 = dimension, rollup = cube,
        // index = retrieval).
        val idCol = req(p, "index.id")
        val textCol = req(p, "index.text")
        val seqCol = req(p, "index.seq")
        val nShards = opt(p, "index.shards").map(_.toInt).getOrElse(32)
        // the shard is a pure function of the doc id, so the touched
        // set over the raw delta equals the one over the deduped latest
        incrementalShardedPublish(spark, p, kind = "index", seqCol,
          partCol = "shard",
          touchedCol = Some(graft.operators.Bm25.shardOf(col(idCol), nShards))) {
          (table, hasCurrent, delta, pre) =>
            // a doc can be updated MORE THAN ONCE inside one delta;
            // the merge treats every delta row as current, so reduce
            // to the latest version per doc first. Same latest-wins
            // discipline as Scd2.merge.
            val latest = latestById(delta, idCol, seqCol)
            val (merged, touched) = graft.operators.Bm25.shardedMerge(table,
              hasCurrent, latest, idCol, textCol, nShards,
              precomputedTouched = pre,
              deltaIds = Some(delta.select(col(idCol).as("doc_id")).distinct()))
            (merged, touched, () => ())
        }

      case "funnel" =>
        // incremental funnel maintenance as a config job: funnel
        // matching is order-sensitive — one late event can rewrite a
        // key's whole chain — so delta-TOUCHED keys recompute over
        // their FULL event history (source semi-join) while untouched
        // rows carry over from the published snapshot: O(|delta| +
        // |touched-history|), the Scd2 touched-key discipline, never
        // a full re-match
        val fKey = req(p, "funnel.key")
        val fSteps = req(p, "funnel.steps").split(",").map(_.trim).toSeq
        val fGap = req(p, "funnel.maxGapMs").toLong
        val fShards = opt(p, "funnel.shards").map(_.toInt).getOrElse(32)
        val funnelShard = pmod(hash(col(fKey)), lit(fShards)).cast("int")
        incrementalShardedPublish(spark, p, kind = "funnel",
          req(p, "funnel.seq"), partCol = "shard",
          touchedCol = Some(funnelShard)) { (table, hasCurrent, delta, pre) =>
          val one = (d: DataFrame) => graft.operators.Funnel.funnel(d,
            fKey, req(p, "funnel.type"), req(p, "funnel.ms"), fSteps, fGap)
          val shardOf = funnelShard
          val touchedShards = pre.get
          val merged =
            if (!hasCurrent) one(delta)
            else {
              val src = loadSource(spark, p)
              val touchedKeys = delta.select(col(fKey)).distinct()
              // touched keys recompute over their FULL history; the
              // other keys IN the touched shards carry over; shards
              // the delta never touched are never even read
              table.readPartitions(spark, touchedShards).drop("shard")
                .join(touchedKeys, Seq(fKey), "left_anti")
                .unionByName(one(src.join(touchedKeys, Seq(fKey), "left_semi")))
            }
          (merged.withColumn("shard", shardOf), touchedShards, () => ())
        }

      case "classify" =>
        // incremental classifier maintenance as a config job: the
        // model IS its sufficient statistics — (label, token, cnt)
        // rows, additive — persisted as a token-hash-sharded
        // ShardedTable; per-label doc counts ride the SAME table as
        // `token IS NULL` rows in a dedicated shard, so the whole
        // state merges through one uniform additive groupBy. An epoch
        // rewrites only the shards its delta's tokens hash into.
        // Contract: the source is APPEND-ONLY above the watermark
        // (the same additive contract job.type=rollup carries —
        // re-delivering a document would double its counts; route
        // corrections through a rebuild).
        import graft.operators.TextClassifier
        val textCol = req(p, "classify.text")
        val labelCol = req(p, "classify.label")
        val cSeq = req(p, "classify.seq")
        val cShards = opt(p, "classify.shards").map(_.toInt).getOrElse(32)
        incrementalShardedPublish(spark, p, kind = "classify", cSeq,
          partCol = "shard") { (table, hasCurrent, delta, _) =>
          // touched = distinct TOKEN shards — needs the tokenization,
          // not a row-wise delta expression, so no touchedCol here
          val (merged, touched) = TextClassifier.shardedMerge(table,
            hasCurrent, delta, textCol, labelCol, cShards)
          (merged, touched, () => ())
        }

      case "annindex" =>
        // incremental IVF vector-index maintenance as a config job —
        // the vector face of the incremental family (index = BM25
        // retrieval, annindex = ANN). The codebook is FIT ONCE from
        // the first epoch's delta (Ann.sampledIvf — deterministic,
        // md5-seeded) and FROZEN: later deltas assign against it and
        // REPLACE their rows, so merge == full rebuild exactly. The
        // assignments persist as a ShardedTable partitioned by
        // list_id: an epoch rewrites only the lists its delta touches
        // and probe-time reads open only probed lists. A freshly fit
        // codebook is written as a root sidecar BEFORE the pointer
        // flip (idempotent — refit from the same first delta is
        // deterministic), so no committed version exists without it;
        // epochs that load the frozen codebook leave it untouched.
        val aId = req(p, "annindex.id")
        val aVec = req(p, "annindex.vec")
        val aSeq = req(p, "annindex.seq")
        val aCents = opt(p, "annindex.centroids").map(_.toInt).getOrElse(64)
        val aOut = req(p, "sink.output")
        val aConf = spark.sparkContext.hadoopConfiguration
        incrementalShardedPublish(spark, p, kind = "annindex", aSeq,
          partCol = "list_id") { (table, hasCurrent, delta, _) =>
          // touched = IVF list ids, known only after assignment
          // against the codebook — no row-wise touchedCol exists
          val latest = latestById(delta, aId, aSeq)
          val idx =
            if (hasCurrent) AnnIndex.loadCodebook(aOut, aConf)
            else graft.functions.Ann.sampledIvf(latest, aCents, aId, aVec)
          val (merged, touched) =
            AnnIndex.shardedMerge(idx, table, hasCurrent, latest, aId, aVec)
          if (!hasCurrent)
            new FsStateStore(aOut, aConf).put("_centroids", "annindex",
              Map("table" -> AnnIndex.encodeCentroids(idx)))
          (merged, touched, () => ())
        }

      case "curate" =>
        // corpus curation as a config job: ordered filter stages
        // (funnel-accounted), optional exact dedup (md5 fingerprint,
        // min-id survivor), optional token-budget prefix selection,
        // snapshot publish. The per-stage attrition lands in the
        // summary map, so schedulers see WHICH filter killed the run's
        // volume without a second pass.
        import graft.operators.{BudgetSelect, FilterFunnel}
        import scala.jdk.CollectionConverters._
        val docs = spark.read
          .format(opt(p, "source.format").getOrElse("parquet"))
          .load(req(p, "source.path"))
        val idCol = req(p, "curate.id")
        val stages: Seq[(String, org.apache.spark.sql.Column)] =
          p.stringPropertyNames.asScala.toSeq
            .filter(k => k.startsWith("curate.filter.") && k.endsWith(".predicate"))
            .map(k => k.stripPrefix("curate.filter.").stripSuffix(".predicate"))
            .sortBy(_.toInt)
            .map { i =>
              (opt(p, s"curate.filter.$i.name").getOrElse(s"stage$i"),
                expr(p.getProperty(s"curate.filter.$i.predicate")))
            }
        val funnel =
          if (stages.isEmpty) Seq.empty
          else FilterFunnel.report(docs, stages).collect()
            .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq
        val filtered = stages.foldLeft(docs) { case (d, (_, pred)) =>
          d.filter(coalesce(pred, lit(false)))
        }
        // exact dedup: min-id survivor per md5(textCol) fingerprint
        val deduped = opt(p, "curate.dedup.text") match {
          case Some(textCol) =>
            val fp = filtered.withColumn("_fp", Text.fingerprint(col(textCol)))
            val survivors = fp.groupBy(col("_fp")).agg(min(col(idCol)).as(idCol))
              .select(col(idCol))
            fp.join(survivors, Seq(idCol), "left_semi").drop("_fp")
          case None => filtered
        }
        val selected = (opt(p, "curate.budget.tokens"),
            opt(p, "curate.budget.priority")) match {
          case (Some(budget), Some(prio)) =>
            val costText = req(p, "curate.budget.text")
            BudgetSelect.selectByBudget(
                deduped.withColumn("_cost",
                  size(Text.tokens(coalesce(col(costText), lit(""))))),
                idCol, "_cost", prio, budget.toLong)
              .drop("_cost", "cum_cost")
          case (None, None) => deduped
          case (t, pr) =>
            // a half-specified budget must be a config ERROR, not a
            // silent full-corpus publish
            throw new IllegalArgumentException(
              "curate.budget.tokens and curate.budget.priority must be set " +
                s"together (got tokens=$t, priority=$pr)")
        }
        import graft.sink.{Publisher, SinkSpec}
        val spec = SinkSpec(req(p, "sink.staging"), req(p, "sink.output"))
        val pub = new Publisher()
        pub.writeStaged(selected, spec)
        pub.publishSnapshot(spec)
        val published = spark.read.parquet(req(p, "sink.output")).count()
        // stage 0's n_in IS the source row count — don't scan the
        // corpus a second time just for the summary
        val rowsIn = funnel.headOption.map(_._2).getOrElse(docs.count())
        Map("published" -> "true",
          "rowsIn" -> rowsIn.toString,
          "rowsPublished" -> published.toString) ++
          funnel.map { case (name, in, pass) =>
            s"stage.$name" -> s"$in->$pass" }.toMap

      case "webdataset" =>
        // declarative shard export: source (+ optional op chain) ->
        // ustar WebDataset shards staged as shard-NNNNN.tar files ->
        // atomic snapshot publish. The loader-facing delivery job.
        import graft.sink.{Publisher, SinkSpec}
        import org.apache.spark.util.SerializableConfiguration
        val docs = loadSource(spark, p)
        val prepped = buildOps(p).foldLeft(docs)((d, op) => op(d))
        val shards = graft.operators.TarCodec.exportWebDataset(prepped,
          req(p, "export.id"), req(p, "export.text"),
          docsPerShard = opt(p, "export.docsPerShard")
            .map(_.toInt).getOrElse(1000))
        val staging = req(p, "sink.staging")
        val serConf = new SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        import spark.implicits._
        val written = shards.select(col("shard_id").cast("long"), col("content"))
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            val fs = new org.apache.hadoop.fs.Path(staging)
              .getFileSystem(serConf.value)
            fs.mkdirs(new org.apache.hadoop.fs.Path(staging))
            var n = 0L
            it.foreach { case (sid, bytes) =>
              val out = fs.create(new org.apache.hadoop.fs.Path(
                staging, f"shard-$sid%05d.tar"), true)
              try out.write(bytes) finally out.close()
              n += 1
            }
            Iterator.single(n)
          }.reduce(_ + _)
        val pub = new Publisher()
        pub.publishSnapshot(SinkSpec(staging, req(p, "sink.output")))
        // return the exact published shard paths: a reader must not
        // re-discover them by glob (lazy glob resolution can race the
        // publish rename on some filesystems)
        val outPath = new org.apache.hadoop.fs.Path(req(p, "sink.output"))
        val outFs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val files = outFs.listStatus(outPath).map(_.getPath.toString)
          .filter(_.endsWith(".tar")).sorted
        Map("published" -> "true", "shards" -> written.toString,
          "files" -> files.mkString(","))

      case "stream" =>
        // config-driven streaming ingest: file-stream source (schema
        // inferred from the existing files), converter-chain ops, a
        // partitioned parquet sink with checkpoint, run to completion
        // of the available data (AvailableNow) — the streaming-mode
        // pipeline spec as one properties file
        import graft.streaming.StreamingIngest
        val srcPath = req(p, "source.path")
        require(!opt(p, "source.format").contains("zipnum"),
          "source.format=zipnum is a batch face (gzip blocks are not " +
            "file-streamable); use job.type=cdxfetch or a batch job")
        val schema = spark.read
          .format(opt(p, "source.format").getOrElse("parquet")).load(srcPath).schema
        val statePartitions = opt(p, "stream.statePartitions").map(_.toInt)
        def run(): Map[String, String] = {
          val stream = StreamingIngest.readFileStream(spark, schema, srcPath,
            format = opt(p, "source.format").getOrElse("parquet"),
            maxFilesPerTrigger = opt(p, "stream.maxFilesPerTrigger").map(_.toInt))
          val transformed = buildOps(p).foldLeft(stream)((df, op) => op(df))
          StreamingIngest.runAvailableNow(transformed,
            req(p, "sink.output"), req(p, "stream.checkpoint"))
          val rows = spark.read.parquet(req(p, "sink.output")).count()
          Map("published" -> "true", "rowsWritten" -> rows.toString)
        }
        statePartitions.fold(run())(n =>
          StreamingIngest.withStatePartitions(spark, n)(run()))

      case "frontier" =>
        // incremental URL-frontier maintenance: discoveries above the
        // published watermark canonicalize, collapse per canonical URL
        // (first-seen seq, best score, discovery count — a MERGEABLE
        // state, like the rollup), and merge into a canonical-hash-
        // sharded versioned frontier: an epoch reads and rewrites only
        // the shards its delta touches, never the whole frontier. The
        // crawl-cycle face of the incremental job family; pair with
        // ops=fetchList over readCurrent to cut a fetch cycle.
        val urlCol = req(p, "frontier.url")
        val scoreCol = req(p, "frontier.score")
        val seqCol = req(p, "frontier.seq")
        val nShards = opt(p, "frontier.shards").map(_.toInt).getOrElse(32)
        // the shard is a pure row-wise function of the URL, so the
        // touched set folds into the delta-stats aggregation
        incrementalShardedPublish(spark, p, kind = "frontier", seqCol,
          partCol = "shard",
          touchedCol = Some(pmod(
            xxhash64(graft.functions.Text.canonicalizeUrl(col(urlCol))),
            lit(nShards)))) { (table, hasCurrent, delta, pre) =>
            val dstate = delta
              .select(
                graft.functions.Text.canonicalizeUrl(col(urlCol)).as("url"),
                col(scoreCol).cast("long").as("score"),
                col(seqCol).cast("long").as("seq"))
              .groupBy(col("url"))
              .agg(min(col("seq")).as("first_seq"),
                max(col("score")).as("score"),
                count(lit(1)).as("n_seen"))
              .withColumn("shard", pmod(xxhash64(col("url")), lit(nShards)))
            val touched = pre.get // <= nShards values
            val merged =
              if (!hasCurrent) dstate
              else table.readPartitions(spark, touched)
                .select("url", "first_seq", "score", "n_seen", "shard")
                .unionByName(dstate)
                .groupBy(col("url"), col("shard"))
                .agg(min(col("first_seq")).as("first_seq"),
                  max(col("score")).as("score"),
                  sum(col("n_seen")).as("n_seen"))
            (merged.select("url", "first_seq", "score", "n_seen", "shard"),
              touched, () => ())
        }

      case "cdxindex" =>
        // the PRODUCER side of cdxfetch: index a directory of
        // member-per-record .warc.gz files into CDX records (parquet,
        // parseCdxj-shaped) — one distributed pass streaming each
        // file through bounded windows (cdx.windowBytes per task, a
        // file larger than executor heap indexes fine), after which
        // every epoch costs only range reads. Keys:
        //   cdx.warcDir  the WARC store to index
        //   cdx.digest   sha1b32 (Common Crawl convention) | md5
        //   cdx.pattern  file glob (default *.warc.gz)
        //   cdx.windowBytes    per-task read window (default 64 MiB)
        //   sink.output  parquet output path
        //   cdx.zipnumDir      optional: ALSO export the pywb/Common
        //                      Crawl ZipNum layout there — sorted
        //                      cdx-NNNNN.gz text shards + cluster.idx
        //   cdx.zipnumShards   text shard count (default 4)
        //   cdx.linesPerBlock  CDXJ lines per gzip block (default 3000)
        //   cdx.zipnumPerShardIdx  true = the extreme-scale layout:
        //                      per-shard cdx-NNNNN.idx + tiny
        //                      shards.idx instead of one cluster.idx
        val idx = graft.operators.CdxIndex.indexWarcs(spark,
          req(p, "cdx.warcDir"),
          opt(p, "cdx.digest").getOrElse("sha1b32"),
          opt(p, "cdx.pattern").getOrElse("*.warc.gz"),
          opt(p, "cdx.windowBytes").map(_.toLong).getOrElse(64L << 20))
        val out = req(p, "sink.output")
        idx.write.mode("overwrite").parquet(out)
        val n = spark.read.parquet(out).count()
        val zipnum = opt(p, "cdx.zipnumDir").map { zd =>
          graft.operators.CdxIndex.exportZipnum(spark,
            spark.read.parquet(out), zd,
            opt(p, "cdx.zipnumShards").map(_.toInt).getOrElse(4),
            opt(p, "cdx.linesPerBlock").map(_.toInt).getOrElse(3000),
            opt(p, "cdx.zipnumPerShardIdx").exists(_.toBoolean))
          zd
        }
        Map("published" -> "true", "rowsWritten" -> n.toString) ++
          zipnum.map("zipnumDir" -> _)

      case "cdxfetch" =>
        // incremental Common-Crawl consumption: the CDX delta above
        // the published watermark dedups by content digest, anti-joins
        // the digest-sharded ledger (touched shards only — never the
        // whole table), coalesces byte ranges (CdxIndex.planFetch's
        // core) and RANGE-READS only those WARC segments; the fetched
        // documents merge into the ledger. An epoch's IO is
        // O(new content), not O(crawl) — the end-to-end shape of
        // incremental crawl consumption. Keys:
        //   source.path  parquet CDX records (urlkey ts url digest
        //                filename offset length + cdx.seq)
        //   cdx.warcDir  directory holding the .warc.gz files
        //   cdx.maxGap   range coalescing gap (default 4096)
        //   cdx.shards   digest ledger shards (default 32)
        //   cdx.maxRangeBytes  per-task range cap (default 256 MiB)
        //   cdx.robotsPath     optional parquet of robots.txt texts
        //                      (domain, content) — disallowed URLs are
        //                      dropped BEFORE fetch planning
        //   cdx.crawler        agent name for robots (default graftbot)
        // With source.format=zipnum, source.path is a ZipNum index dir
        // (cdx-*.gz + cluster.idx — what Common Crawl publishes), read
        // through loadSource with no parquet conversion; a dir with no
        // index yet reads as an empty delta, i.e. a no-op epoch.
        import graft.operators.{CdxIndex, Robots}
        val warcDir = req(p, "cdx.warcDir")
        val maxGap = opt(p, "cdx.maxGap").map(_.toLong).getOrElse(4096L)
        val nShards = opt(p, "cdx.shards").map(_.toInt).getOrElse(32)
        // a ZipNum source has parseCdxj's shape — no 'seq' column; its
        // natural watermark is the capture timestamp, so default THERE
        // to 'ts' instead of failing later with an opaque unresolved-
        // column AnalysisException deep in incrementalShardedPublish
        val cdxSeqCol = opt(p, "cdx.seq").getOrElse(
          if (opt(p, "source.format").contains("zipnum")) "ts" else "seq")
        val maxRange = opt(p, "cdx.maxRangeBytes").map(_.toLong)
          .getOrElse(256L << 20)
        val robots = opt(p, "cdx.robotsPath").map { rp =>
          (Robots.rulesTable(spark.read.parquet(rp), "domain", "content"),
            opt(p, "cdx.crawler").getOrElse("graftbot"))
        }
        incrementalShardedPublish(spark, p, kind = "cdxfetch", cdxSeqCol,
          partCol = "shard") { (table, hasCurrent, delta, _) =>
            // ledgerMerge's candidate/touched sets are post-filter
            // (robots, revisit, digest dedup) — no row-wise touchedCol;
            // its cleanup releases the two per-epoch delta caches
            CdxIndex.ledgerMerge(spark, table, hasCurrent, delta,
              warcDir, cdxSeqCol, maxGap, nShards, maxRange, robots)
        }

      case "dag" =>
        // multi-tenant scheduled dag-of-jobs: every task points at a
        // properties job file; DagScheduler decides order + admission
        // (quotas/SLA/failure options) in virtual time, executeScheduled
        // runs the admitted tasks with state-store crash-resume. Keys:
        //   dag.<dag>.submit|sla|failureOption        (dag attributes)
        //   dag.<dag>.<task>.job=<properties path>    (defines a task)
        //   dag.<dag>.<task>.dependsOn|user|group|duration|maxAttempts
        //   scheduler.slots|userQuota|groupQuota|horizon
        import scala.jdk.CollectionConverters._
        val dagKeys = p.stringPropertyNames.asScala.filter(_.startsWith("dag."))
        val dagAttrs = Set("submit", "sla", "failureOption")
        val taskIds = dagKeys.filter(_.endsWith(".job")).toSeq.sorted.map { k =>
          k.stripPrefix("dag.").stripSuffix(".job").split("\\.", -1) match {
            case Array(d, task) if d.nonEmpty && task.nonEmpty => (d, task)
            case _ => throw new IllegalArgumentException(
              s"dag task key '$k' is not dag.<dag>.<task>.job " +
                "(dag/task names must not contain '.')")
          }
        }
        require(taskIds.nonEmpty, "job.type=dag needs at least one dag.<dag>.<task>.job")
        def tOpt(d: String, task: String, a: String) = opt(p, s"dag.$d.$task.$a")
        val workload = taskIds.map { case (d, task) =>
          require(!dagAttrs.contains(task),
            s"task name '$task' in dag '$d' collides with a dag attribute")
          val dagTask = DagScheduler.DagTask(
            dag = d, task = task,
            user = tOpt(d, task, "user").getOrElse("default"),
            group = tOpt(d, task, "group").getOrElse("default"),
            dependsOn = tOpt(d, task, "dependsOn")
              .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
            duration = tOpt(d, task, "duration").map(_.toInt).getOrElse(1),
            failAttempts = tOpt(d, task, "failAttempts").map(_.toInt).getOrElse(0),
            maxAttempts = tOpt(d, task, "maxAttempts").map(_.toInt).getOrElse(2),
            submitTick = opt(p, s"dag.$d.submit").map(_.toLong).getOrElse(0L),
            slaTicks = opt(p, s"dag.$d.sla").map(_.toLong).getOrElse(-1L),
            failureOption = opt(p, s"dag.$d.failureOption")
              .getOrElse("FINISH_ALL_POSSIBLE"))
          val jobProps = parse(java.nio.file.Files.readString(
            java.nio.file.Paths.get(req(p, s"dag.$d.$task.job"))))
          (dagTask, jobProps)
        }
        val conf = DagScheduler.SchedulerConfig(
          slots = opt(p, "scheduler.slots").map(_.toInt).getOrElse(4),
          userQuota = opt(p, "scheduler.userQuota").map(_.toInt).getOrElse(4),
          groupQuota = opt(p, "scheduler.groupQuota").map(_.toInt).getOrElse(4),
          horizon = opt(p, "scheduler.horizon").map(_.toInt).getOrElse(64))
        val store = new FsStateStore(req(p, "dag.state.dir"),
          spark.sparkContext.hadoopConfiguration)
        val results = DagScheduler.executeScheduled(spark, store, workload, conf)
        val trace = DagScheduler.schedule(workload.map(_._1), conf)
        val lastByTask = trace.groupBy(e => (e.dag, e.task))
          .view.mapValues(_.maxBy(e => (e.tick, e.event)).event)
        Map(
          "tasks" -> taskIds.size.toString,
          "ran" -> results.count(_._2 == "ran").toString,
          "skipped" -> results.count(_._2 == "skipped").toString,
          // REAL outcomes (a job that threw / was blocked by a real
          // failure upstream) — distinct from the virtual-trace counts
          "real_failed" -> results.count(_._2 == "failed").toString,
          "real_cancelled" -> results.count(_._2 == "cancelled").toString,
          "succeeded" -> lastByTask.values.count(_ == "success").toString,
          "failed" -> lastByTask.values.count(_ == "fail").toString,
          "quota_failed" -> lastByTask.values.count(_ == "quota_fail").toString,
          "cancelled" -> lastByTask.values.count(_ == "cancelled").toString,
          "sla_killed" -> lastByTask.values.count(_ == "sla_kill").toString)

      case other => throw new IllegalArgumentException(s"unknown job.type: $other")
    }

  /** The latest row per `id` by `seq` (ties: any — equal seq means
    * equal version under the watermark contract). A row_number window
    * rather than `Dedup.keepMaxBy`: on index_bulk the max_by-over-struct
    * aggregation cost one more Spark job, more shuffle bytes and a
    * higher write amplification.
    */
  private def latestById(delta: DataFrame, id: String, seq: String): DataFrame =
    delta.withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(id))
          .orderBy(col(seq).cast("long").desc)))
      .filter(col("_rn") === 1).drop("_rn")

  /** Shared engine for the watermarked incremental-maintenance job
    * types (scd2 = dimension, rollup = cube, funnel = sequence match,
    * index = retrieval, classify = classifier statistics, annindex =
    * ANN, frontier = crawl frontier, cdxfetch = crawl consumption):
    * read rows above the published watermark, apply `applyDelta`,
    * commit through a [[graft.sink.ShardedTable]] — an epoch writes
    * O(touched partitions), never O(state) — and each epoch is a
    * time-travelable version. The high watermark rides the version
    * manifest, committing ATOMICALLY with the data at the pointer
    * flip, so a crash at any point replays as either the whole epoch
    * or an empty delta: exactly-once even for the non-idempotent
    * additive rollup merge.
    * Contract: JobLock serialization (ref gobblin-runtime/.../locks/
    * FileBasedJobLock.java:40 — overlapping runs would double-apply;
    * the late one must lose); the watermark is trusted only while its
    * data survives (data dirs deleted under the metadata → full
    * rebuild, committed with no manifest carry-over so dead paths
    * can't leak forward); a missing or still-empty source is a no-op,
    * not a crash; empty delta = no publish; the seq column may be any
    * integral type (compared/stored as long); a crash INSIDE a commit
    * leaves orphaned staged dirs that no manifest references
    * (expireVersions reclaims them) and the table on its previous
    * version.
    *
    * No-op epochs start no Spark job: each commit records, as
    * `sourceFiles` in its user metadata, the [[sourceFingerprint]] of
    * the listing taken before its read, and an epoch whose fingerprint
    * equals the current version's returns the no-op result without
    * reading the source. That relies on the fingerprint's contract (a
    * listed file with the same length and mtime has the same content).
    * Known limit: an epoch whose delta is empty commits nothing, so it
    * records no fingerprint, and the next run reads the source again;
    * a version committed without `sourceFiles` always takes the full
    * path.
    *
    * `applyDelta(table, hasCurrent, delta, precomputedTouched)`
    * returns the replacement rows for the touched partitions, the
    * touched-partition values, and a cleanup hook invoked (in a
    * finally) after the commit materializes the merged rows — the
    * release point for any caches applyDelta registered (persist pins
    * plans in the SQL CacheManager until an explicit unpersist, so a
    * per-epoch cache without this hook leaks one entry per epoch /
    * micro-batch).
    *
    * `touchedCol`: the partition-value expression over a delta row,
    * when the touched set is a pure row-wise function of the delta
    * (hash shards). Supplying it folds the touched-partition collect
    * into the SAME aggregation job as the watermark/row-count stats —
    * one pass over the persisted delta instead of two — and applyDelta
    * receives the values via `precomputedTouched`.
    */
  private def incrementalShardedPublish(spark: SparkSession, p: Properties,
      kind: String, seqCol: String, partCol: String,
      touchedCol: Option[Column] = None)(
      applyDelta: (graft.sink.ShardedTable, Boolean, DataFrame, Option[Seq[String]]) => (DataFrame, Seq[String], () => Unit)): Map[String, String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val outDir = req(p, "sink.output")
    val noop = (wm: Option[Long]) => Map("published" -> "false",
      "deltaRows" -> "0", "highWatermark" -> wm.map(_.toString).getOrElse(""))
    val lock = new JobLock(req(p, "state.dir") + "/_locks",
      s"$kind-${req(p, "job.name")}", conf = conf)
    lock.withLock {
      val table = new graft.sink.ShardedTable(outDir, partCol, conf)
      val dataPath = new org.apache.hadoop.fs.Path(s"$outDir/data")
      val current = table.currentVersion
      val hasCurrent = current.isDefined &&
        dataPath.getFileSystem(conf).exists(dataPath)
      // the watermark is meaningful only WITH its data: if the data
      // dirs were deleted, rebuild from the full source rather than
      // silently dropping everything below the orphaned watermark
      val meta = if (hasCurrent) table.metaOf(current.get) else Map.empty[String, String]
      val prior = meta.get("highWatermark").filter(_.nonEmpty).map(_.toLong)
      val fingerprint = sourceFingerprint(conf, p)
      // the source the current version was committed from, unchanged:
      // nothing lies past the watermark, so no Spark job is needed
      if (fingerprint.isEmpty || (hasCurrent && meta.get("sourceFiles") == fingerprint))
        noop(prior)
      else {
        val src = loadSource(spark, p)
        val delta = prior.fold(src)(w => src.filter(col(seqCol).cast("long") > w))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // one aggregation job over the persisted delta: watermark,
          // row count, and (when touchedCol is given) the touched
          // partition values — previously the touched set cost each
          // kind a second distinct+collect pass
          val statAggs = Seq(max(col(seqCol).cast("long")), count(lit(1))) ++
            touchedCol.map(c => sort_array(collect_set(c.cast("string"))))
          val stats = delta.agg(statAggs.head, statAggs.tail: _*).head
          if (stats.isNullAt(0)) noop(prior)
          else {
            val hw = stats.getLong(0)
            val deltaRows = stats.getLong(1)
            val pre = touchedCol.map(_ => stats.getSeq[String](2).toSeq)
            val (merged, touched, cleanup) =
              applyDelta(table, hasCurrent, delta, pre)
            try {
              val version = table.commit(merged, touched,
                Map("highWatermark" -> hw.toString, "sourceFiles" -> fingerprint.get),
                full = !hasCurrent)
              Map("published" -> "true", "deltaRows" -> deltaRows.toString,
                "highWatermark" -> hw.toString, "version" -> version.toString,
                "touchedPartitions" -> touched.size.toString)
            } finally cleanup()
          }
        } finally delta.unpersist()
      }
    }.getOrElse(Map("published" -> "false", "deltaRows" -> "0",
      "highWatermark" -> "", "reason" -> "lock held by another run"))
  }

  /** Run a properties-defined job end-to-end via [[JobRunner]]. */
  def run(spark: SparkSession, p: Properties): JobRunner.RunResult = {
    val job = JobSpec(req(p, "job.name"))
    val store = new FsStateStore(req(p, "state.dir"),
      spark.sparkContext.hadoopConfiguration)
    val wmExpr = opt(p, "source.watermark.expr")
    val read = (s: SparkSession) => {
      val df = loadSource(s, p)
      wmExpr.fold(df)(e => df.withColumn("wm", expr(e)))
    }
    JobRunner.run(spark, store, job, read,
      watermarkCol = if (wmExpr.isDefined) "wm" else req(p, "source.watermark.column"),
      ops = buildOps(p),
      rowPolicies = buildRowPolicies(p),
      taskPolicies = buildTaskPolicies(p),
      sink = (req(p, "sink.staging"), req(p, "sink.output"),
        opt(p, "sink.partitionBy").map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)),
      quarantineDir = opt(p, "quarantine.dir"),
      sourceFingerprint = sourceFingerprint(spark.sparkContext.hadoopConfiguration, p))
  }
}

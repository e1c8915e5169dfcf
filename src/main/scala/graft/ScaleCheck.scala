package graft

import org.apache.spark.sql.functions._

/** sf1 scale-validation harness (dev tool, not a driver main).
  *
  * The driver's testdata stops at sf0.1; the bench's scale-ratio
  * check (sf0.01 → sf0.1) therefore proves linearity only across one
  * decade. [[ScaleUp]] manufactures a 10x-larger surrogate corpus by
  * REPLICATION: `copies` key-shifted copies of every scaling table,
  * join keys shifted consistently (orders.o_custkey moves with
  * customer.c_custkey etc.) so every join finds its mates inside its
  * own copy; fixed dimensions (region, nation) stay as-is, exactly
  * like a real 10x corpus. Document text gets a per-copy suffix so the
  * near-dup tiers see 10x corpus, not 10x exact clones.
  *
  * [[Sf1Check]] then times a query list on the small and big dirs in
  * one warmed session (Bench methodology: warmup pass + best-of-2
  * interleaved passes) and writes SCALE_SF1.json with per-query
  * ratios; a ratio past `FlagRatio` for 10x data marks a stage that
  * grows super-linearly and would bury a 100 TB run.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Tables.session()

    // per-table key shifts (base * copyIndex); bases sit far above the
    // sf0.1 key ranges so copies never collide
    val keyShifts: Map[String, Seq[(String, Long)]] = Map(
      "region" -> Seq.empty,
      "nation" -> Seq.empty,
      "customer" -> Seq("c_custkey" -> 1000000L),
      "supplier" -> Seq("s_suppkey" -> 1000000L),
      "part" -> Seq("p_partkey" -> 1000000L),
      "orders" -> Seq("o_orderkey" -> 100000000L, "o_custkey" -> 1000000L),
      "lineitem" -> Seq("l_orderkey" -> 100000000L,
        "l_partkey" -> 1000000L, "l_suppkey" -> 1000000L),
      "events" -> Seq("event_id" -> 100000000L, "user_id" -> 100000000L),
      "documents" -> Seq("doc_id" -> 100000000L),
      "embeddings" -> Seq("vec_id" -> 100000000L))

    keyShifts.foreach { case (table, shifts) =>
      val base = spark.read.parquet(s"$src/$table.parquet")
      val out =
        if (shifts.isEmpty) base
        else (0 until copies).map { i =>
          // shift in LONG space: casting back to a narrower source
          // type (e.g. IntegerType) silently wraps past ~21 copies and
          // produces colliding/negative keys. Every consumer reads the
          // replicated dir fresh, so the widened type is harmless.
          val shifted = shifts.foldLeft(base) { case (df, (c, b)) =>
            df.withColumn(c, col(c).cast("long") + lit(b * i))
          }
          // vary replicated text so dedup tiers see a 10x corpus, not
          // 10x exact clones of the sf0.1 one
          if (table == "documents" && i > 0)
            shifted.withColumn("text", concat(col("text"), lit(s" c$i")))
          else shifted
        }.reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[scaleup] $table x${if (shifts.isEmpty) 1 else copies}")
    }
    spark.stop()
  }
}

object Sf1Check {
  private val FlagRatio = 15.0

  def main(args: Array[String]): Unit = {
    val bigDir = args.headOption.getOrElse("/tmp/sf1")
    val smallDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Tables.session()

    def timeOne(n: String, dir: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { SparkEntry.queries(n)(spark, dir).count(); true }
        catch { case e: Throwable =>
          println(s"[sf1check] $n @ $dir FAILED: ${e.getMessage}"); false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // warmup both dirs, then best-of-2 interleaved passes per dir
    names.foreach { n => timeOne(n, smallDir); timeOne(n, bigDir) }
    val passes = (1 to 2).map { _ =>
      names.map(n => (n, timeOne(n, smallDir), timeOne(n, bigDir)))
    }
    def jq(s: String) = "\"" + s + "\""
    def jd(d: Double) = f"$d%.3f"
    val rows = names.map { n =>
      val rs = passes.map(_.find(_._1 == n).get)
      val sm = rs.map(_._2).filter(_._2).map(_._1)
      val bg = rs.map(_._3).filter(_._2).map(_._1)
      val (smin, bmin) = (if (sm.nonEmpty) sm.min else -1.0,
        if (bg.nonEmpty) bg.min else -1.0)
      val ratio = if (smin > 0 && bmin > 0) bmin / smin else -1.0
      (n, smin, bmin, ratio)
    }
    // merge into the existing JSON instead of replacing it: a
    // targeted sweep must not shrink the at-HEAD scale evidence for
    // queries checked by earlier sweeps (this run's results win on
    // overlap; `flagged` is recomputed over the union)
    val path = java.nio.file.Paths.get("SCALE_SF1.json")
    val prior: Map[String, (Double, Double, Double)] =
      if (java.nio.file.Files.exists(path)) {
        // a REAL JSON parse (jackson, already on the classpath via
        // avro) — a regex here silently dropped entries whose numbers
        // drifted to another serialization (e.g. scientific notation),
        // shrinking the at-HEAD scale evidence the merge preserves.
        // Shrinkage is also checked loudly below.
        val M = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = M.readTree(java.nio.file.Files.readAllBytes(path))
        val qs = root.path("queries")
        val claimed = root.path("n_queries").asInt(-1)
        import scala.jdk.CollectionConverters._
        val parsed = qs.fields().asScala.map { e =>
          e.getKey -> (e.getValue.path("sf01_sec").asDouble(-1.0),
            e.getValue.path("sf1_sec").asDouble(-1.0),
            e.getValue.path("ratio").asDouble(-1.0))
        }.toMap
        require(claimed < 0 || parsed.size == claimed,
          s"SCALE_SF1.json claims $claimed queries but ${parsed.size} " +
            "parsed — refusing to merge over a corrupt prior file")
        parsed
      } else Map.empty
    val merged = (prior ++ rows.map { case (n, s, b, r) => n -> (s, b, r) })
      .toSeq.sortBy(_._1)
    val flagged = merged.collect { case (n, (_, _, r)) if r > FlagRatio => jq(n) }
    val json = merged.map { case (n, (s, b, r)) =>
      s"${jq(n)}:{${jq("sf01_sec")}:${jd(s)},${jq("sf1_sec")}:${jd(b)},${jq("ratio")}:${jd(r)}}"
    }.mkString("{", ",", "}")
    val out =
      s"""{"metric":"sf1_scale_check","big":${jq(bigDir)},"small":${jq(smallDir)},""" +
        s""""data_ratio":10,"flag_ratio":$FlagRatio,"n_queries":${merged.size},""" +
        s""""flagged":${flagged.mkString("[", ",", "]")},"queries":$json}"""
    java.nio.file.Files.writeString(path, out + "\n")
    rows.sortBy(-_._4).foreach { case (n, s, b, r) =>
      println(f"$n%-28s sf0.1=${s}%7.3f s  sf1=${b}%7.3f s  ratio=${r}%6.2f")
    }
    println(s"flagged: ${flagged.size}")
    spark.stop()
  }
}

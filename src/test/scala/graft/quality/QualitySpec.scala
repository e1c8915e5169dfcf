package graft.quality

import org.apache.spark.sql.functions._

import graft.SparkSpec

class QualitySpec extends SparkSpec {
  import spark.implicits._

  lazy val df = Seq(
    (1, 10.0, "ok"), (2, -5.0, "ok"), (3, 100.0, null), (4, 0.0, "ok"))
    .toDF("id", "value", "tag")

  test("FAIL policy drops failing rows") {
    val checked = Quality.checkRows(df, Seq(
      Quality.RowPolicy("non_negative", $"value" >= 0, Quality.Fail)))
    assert(checked.passed.count() == 3)
    assert(checked.quarantined.isEmpty)
  }

  test("ERR_FILE policy drops + quarantines") {
    val checked = Quality.checkRows(df, Seq(
      Quality.RowPolicy("has_tag", $"tag".isNotNull, Quality.ErrFile)))
    assert(checked.passed.count() == 3)
    assert(checked.quarantined.get.collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("a NULL-valued predicate fails: ERR_FILE quarantines the row, never loses it") {
    // tag = 'ok' is NULL on row 3
    val checked = Quality.checkRows(df, Seq(
      Quality.RowPolicy("tag_ok", $"tag" === "ok", Quality.ErrFile)))
    assert(checked.passed.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 4))
    assert(checked.quarantined.get.collect().map(_.getInt(0)).toSeq == Seq(3))
    val failing = Quality.checkRows(df, Seq(
      Quality.RowPolicy("tag_ok", $"tag" === "ok", Quality.Fail)))
    assert(failing.passed.count() == 3)
  }

  test("OPTIONAL policy keeps rows and observes failure count") {
    val checked = Quality.checkRows(df, Seq(
      Quality.RowPolicy("positive", $"value" > 0, Quality.Optional)))
    assert(checked.passed.count() == 4) // nothing dropped
    val metrics = checked.observation.get.get
    assert(metrics("positive_failed") == 2L) // -5.0 and 0.0
  }

  test("combined policies compose") {
    val checked = Quality.checkRows(df, Seq(
      Quality.RowPolicy("non_negative", $"value" >= 0, Quality.Fail),
      Quality.RowPolicy("has_tag", $"tag".isNotNull, Quality.ErrFile)))
    assert(checked.passed.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 4))
    assert(checked.quarantined.get.collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("task policies gate on metrics") {
    val policies = Seq(
      Quality.TaskPolicy("rows_match", mandatory = true,
        m => m("rows").asInstanceOf[Long] >= 100),
      Quality.TaskPolicy("advisory", mandatory = false, _ => false))
    assert(Quality.checkTask(Map("rows" -> 150L), policies).isRight)
    assert(Quality.checkTask(Map("rows" -> 50L), policies) == Left(Seq("rows_match")))
  }
}

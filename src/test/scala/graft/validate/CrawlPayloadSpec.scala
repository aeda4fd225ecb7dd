package graft.validate

import graft.SparkTestBase
import graft.fixtures.{ImageGen, WebConfig}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Closes the north-star loop end-to-end: ACCEPTED crawl emits reference
  * image+caption rows, every referenced row exists in the source table
  * (referential integrity), and the referenced payloads pass the per-row
  * round-trip invariant (lossless exact / lossy PSNR ≥ 40 dB, caption
  * equality). ImageValidateSpec pins the invariant on the table itself;
  * this spec pins that the CRAWL's output joins back onto it cleanly.
  */
class CrawlPayloadSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("accepted emits resolve to image rows passing PSNR+caption validation") {
    val cfg = WebConfig(numSeeds = 25, rounds = 3)
    val state = tempDir("payload-state")
    val sink = tempDir("payload-sink")
    graft.crawl.CrawlJob.run(spark, cfg, state, sink)

    // pages = the committed fetch payload references (one row per ACCEPTED
    // ordered commit; emits carry the envelope, pages carry the payload ref)
    val pages = graft.crawl.CrawlJob.readPages(spark, sink)
    val n = pages.count()
    assert(n > 0, "crawl produced no committed pages")
    assert(n === graft.crawl.CrawlJob.readEmits(spark, sink)
      .filter(col("status") === "ACCEPTED").count())
    // every committed page carries a well-formed payload reference
    assert(pages.filter(col("image_id").isNull ||
      !col("image_id").rlike("^img[0-9]{10}$")).count() === 0)

    val ids = pages.select("image_id").distinct()
    val images = ImageGen.generate(spark, cfg.numImages).toDF()
    // referential integrity: no emit references a row outside the table
    assert(ids.join(images, Seq("image_id"), "left_anti").count() === 0)

    // per-row round-trip invariant on exactly the referenced payloads
    val referenced = images.join(ids, Seq("image_id"), "left_semi")
    val verdicts = ImageValidate.validate(spark, referenced)
    val (rows, pixFail, capFail, minPsnr) = ImageValidate.summarize(verdicts)
    assert(rows === ids.count())
    assert(pixFail === 0L, s"pixel round-trip failures (min lossy PSNR=$minPsnr)")
    assert(capFail === 0L, "caption equality failures")
  }
}

package graft.schema

/** Typed rows the fixtures build (SURVEY.md §1, BASELINE.json input_hint).
  *
  * The target input table is the image+caption shape from `input_hint`:
  * (image_id string, bytes binary, w int, h int, fmt string, caption string,
  * phash long). The crawl state tables are untyped DataFrames whose columns
  * [[graft.crawl.CrawlJob]] documents; SURVEY.md §1.4 maps them onto the
  * reference's block-walk state (height cursor, hash window, checkpoint).
  */

/** One row of the image+caption source table (BASELINE.json input_hint). */
final case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,      // "png" | "jpeg"
    caption: String,
    phash: Long)

/** Per-host politeness + robots side input (broadcast join side; the analog
  * of per-topic filter params /root/reference/kafka/kafka.go:5-9).
  */
final case class HostState(
    host: String,
    robots_disallow: Seq[String], // path-prefix rules
    min_delay_ms: Long,
    budget: Int)                  // max fetches per batch

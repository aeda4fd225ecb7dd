package graft.ingest

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class PushIngestSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val eventJson =
    """{
      "data": { "block": {
        "hash": "0xabc", "number": 100, "timestamp": 1700000000,
        "parent": {"hash": "0xdef"},
        "baseFeePerGas": "0xde0b6b3a7640000",
        "gasUsed": 21000, "gasLimit": 30000000,
        "mixHash": "0x0", "stateRoot": "0x1", "difficulty": "0",
        "totalDifficulty": "58750003716598352816469",
        "nonce": "0x0000000000000000", "transactionCount": 5,
        "transactionsRoot": "0x2", "receiptsRoot": "0x3", "logsBloom": "0x4",
        "transactions": [],
        "logs": [{
          "data": "0xdd", "topics": ["0xt0", "0xt1"], "index": 7,
          "account": {"address": "0xaaaa"},
          "transaction": {
            "hash": "0xth", "nonce": 3, "index": 2,
            "from": {"address": "0xf"}, "to": {"address": "0xt"},
            "value": "0xde0b6b3a7640000", "gasPrice": "0x3b9aca00",
            "maxFeePerGas": "0x3b9aca00", "maxPriorityFeePerGas": "0x1",
            "gas": 21000, "status": 1, "gasUsed": 21000,
            "cumulativeGasUsed": 42000, "effectiveGasPrice": "0x3b9aca00",
            "createdContract": {"address": ""}
          }
        }]
      }},
      "sequenceNumber": "10"
    }"""

  test("push event converts onto the canonical Block schema; txns skipped, logs embedded") {
    val f = Files.createTempFile(Paths.get(tempDir("push")), "push", ".json")
    Files.writeString(f, eventJson)
    val blocks = PushIngest.convert(PushIngest.readPushEvents(spark, f.toString)).cache()

    val r = blocks.select("number", "parentHash", "baseFeePerGas", "transactionCount").head()
    assert(r.getLong(0) === 100L)
    assert(r.getString(1) === "0xdef")
    assert(r.getString(2) === "1000000000000000000") // hex → decimal string
    assert(r.getLong(3) === 5L) // from header, not len(transactions)
    assert(blocks.select(size(col("transactions"))).head().getInt(0) === 0) // ref skips

    val log = blocks.select(explode(col("logs")).as("l")).select(
      col("l.address"), col("l.index"),
      col("l.transaction.value"), col("l.transaction.gasPrice")).head()
    assert(log.getString(0) === "0xaaaa")
    assert(log.getLong(1) === 7L)
    assert(log.getString(2) === "1000000000000000000")
    assert(log.getLong(3) === 1000000000L)
  }

  test("malformed push event (no block) converts to one null-number row, no exception") {
    val f = Files.createTempFile(Paths.get(tempDir("push-bad")), "push-bad", ".json")
    Files.writeString(f, """{"sequenceNumber":"11"}""")
    val rows = PushIngest.convert(PushIngest.readPushEvents(spark, f.toString))
      .select("number").collect()
    assert(rows.length === 1)
    assert(rows.head.isNullAt(0))
  }

  test("pull path and push path produce union-compatible canonical schemas") {
    val f = Files.createTempFile(Paths.get(tempDir("push2")), "push2", ".json")
    Files.writeString(f, eventJson)
    val push = PushIngest.convert(PushIngest.readPushEvents(spark, f.toString))
    val pull = BlockIngest.convert(
      BlockIngest.readRawBlocks(spark, "/root/reference/testdata/eth-block-18721004.json"),
      BlockIngest.readRawReceipts(spark, "/root/reference/testdata/eth-txn-receipts-18721004.json"))
    // the whole point of P4: one downstream pipeline for both sources
    val unioned = pull.unionByName(push)
    assert(unioned.count() === 2)
    assert(BlockIngest.envelope(unioned, "ACCEPTED").count() === 2)
  }
}

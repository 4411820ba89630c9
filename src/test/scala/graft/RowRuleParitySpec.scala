package graft

import java.sql.Timestamp

import graft.context.ContextAssembler
import graft.functions.TextFunctions
import graft.memory.MemoryStore
import graft.model.Message
import graft.serve.{ChatService, Snapshot}
import graft.task.TaskStore
import org.apache.spark.sql.functions.col

/** The serving read rules run on driver rows, while the rag queries and
  * the DuckDB oracle keep the Column expressions. Each row rule must
  * give what its Column twin gives. */
class RowRuleParitySpec extends SparkSpec {

  test("castString renders a timestamp as CAST(ts AS STRING) in the session zone") {
    import spark.implicits._
    val stamps = Seq(
      Timestamp.valueOf("2023-11-14 22:13:20"),
      Timestamp.valueOf("2023-11-14 22:13:20.5"),
      Timestamp.valueOf("2023-11-14 22:13:20.123456"),
      new Timestamp(-86399500L)) // 1969-12-31, half a second past a UTC second
    val key = "spark.sql.session.timeZone"
    val prior = spark.conf.get(key)
    try {
      for (zone <- Seq("UTC", "America/Los_Angeles")) {
        spark.conf.set(key, zone)
        val snap = Snapshot.of(ChatService.State(MemoryStore.empty(spark), TaskStore.empty(spark),
          spark.emptyDataset[Message]), Nil)
        assert(snap.zone.getId == zone)
        val cast = stamps.toDF("ts").select(col("ts").cast("string")).as[String].collect().toSeq
        assert(stamps.map(ContextAssembler.castString(_, snap.zone)) === cast)
      }
    } finally spark.conf.set(key, prior)
    assert(ContextAssembler.castString(stamps(1), java.time.ZoneId.of("UTC"))
      .endsWith(":20.5"))
  }

  test("cleanString and keywordCount equal cleanText and keywordScore") {
    import spark.implicits._
    val texts = Seq(
      "'Café': Crème brûlée, s'il vous plaît!",
      "'İstanbul': İNCİ and istanbul",
      "'ΟΔΟΣ': ΣΟΦΙΑ σοφίας, ΟΔΟΣ.",
      "'k-1': memory, MEMORY; memory... dedup?!",
      "'empty': ")
    // "memory" twice: a repeated keyword counts twice
    val keywords = TextFunctions.getKeywords(
      TextFunctions.cleanString("Memory café İstanbul σοφίας ΟΔΟΣ dedup memory"))
    assert(keywords.count(_ == "memory") == 2)
    val cleaned = texts.toDF("t").select(TextFunctions.cleanText(col("t")).as("c"))
    val want = cleaned.select(col("c"), TextFunctions.keywordScore(col("c"), keywords))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    val got = texts.map { t =>
      val c = TextFunctions.cleanString(t)
      (c, TextFunctions.keywordCount(c, keywords))
    }
    assert(got === want)
    assert(got.map(_._2).count(_ > 0) >= 3)
  }
}

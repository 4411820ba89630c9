package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.io.StoreIO
import graft.memory.MemoryStore
import graft.model._
import graft.provider.{IdentityProvider, LlmMap}
import graft.task.TaskStore

/** Snapshot IO round-trips (S3–S5, symmetric unlike reference quirk Q1),
  * the config-dir scan (S6), the LLM batch map (S8), and the registered
  * UDF surface (§2.10).
  */
class IoAndUdfsSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("memory and task snapshots round-trip through parquet (Q1 fixed)") {
    val dir = Files.createTempDirectory("graft_io").toString
    import spark.implicits._
    val m = MemoryStore.empty(spark).copy(records = Seq(MemoryRecord("s", ts(1), "r1")).toDS(),
      kv = Seq(KvEntry("s", "k", "v")).toDS())
    StoreIO.saveMemory(m, s"$dir/mem")
    val m2 = StoreIO.loadMemory(spark, s"$dir/mem")
    assert(m2.records.collect().map(_.content).toSeq == Seq("r1"))
    assert(m2.kv.collect().toSeq == Seq(KvEntry("s", "k", "v")))

    val t = TaskStore.empty(spark).upsertTask(TaskRow(1L, "plan", "T", "tg", "", "", ts(1)))
      .copy(logs = Seq(TaskLog(1L, ts(2), "q", "r", Seq("e"), Map("m" -> "x"), null)).toDS())
    StoreIO.saveTasks(t, s"$dir/task")
    val t2 = StoreIO.loadTasks(spark, s"$dir/task")
    assert(t2.tasks.collect().map(_.title).toSeq == Seq("T"))
    assert(t2.logs.collect().head.metadata == Map("m" -> "x"))
  }

  test("config-dir scan captures the owning server directory (S6)") {
    val base = Files.createTempDirectory("graft_cfg")
    for (srv <- Seq("alpha", "beta")) {
      val d = base.resolve(srv)
      Files.createDirectories(d)
      Files.writeString(d.resolve("config.json"), s"""{"command": "run-$srv"}""")
      Files.writeString(d.resolve("other.json"), """{"ignored": true}""")
    }
    val df = StoreIO.scanConfigs(spark, base.toString)
    val rows = df.select("server", "command").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map("alpha" -> "run-alpha", "beta" -> "run-beta"))
  }

  test("LLM batch map runs one provider per partition deterministically (S8)") {
    import spark.implicits._
    val prompts = (1L to 20L).map(i => LlmMap.PromptRow(i, s"p$i")).toDS().repartition(4)
    val out = LlmMap.completePrompts(prompts, () => IdentityProvider, batchSize = 3)
      .collect().sortBy(_.id)
    assert(out.length == 20)
    assert(out.forall(r => r.completion == IdentityProvider.generateResponse(r.prompt)))
  }

  test("batched inference is invariant to batch size and partitioning") {
    import graft.operators.Multimodal
    val docs = sources.Tables.documents(spark, sf)
    def run(bs: Int, parts: Int): Map[Long, (Long, Long, Long, Long)] =
      Multimodal.batchEmbed(docs.repartition(parts), batchSize = bs)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
    val base = run(bs = 32, parts = 4)
    assert(base.nonEmpty)
    assert(run(bs = 1, parts = 4) == base)     // degenerate batches
    assert(run(bs = 1000, parts = 1) == base)  // one giant batch
    assert(run(bs = 7, parts = 9) == base)     // ragged batches, odd layout
  }

  test("documents round-trip through JSONL bit-exactly (S1/S2 on the corpus)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val docs = sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    docs.write.mode("overwrite").json(dir)
    val back = spark.read.schema(docs.schema).json(dir)
    assert(back.count() == docs.count())
    // exceptAll both ways = multiset equality, column-by-column
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("documents round-trip through CSV and ORC bit-exactly (source matrix)") {
    import spark.implicits._
    val docs = sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")

    // CSV: quoting/escaping must survive arbitrary corpus text
    val csvDir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    docs.write.mode("overwrite")
      .option("header", "true").option("escape", "\"").csv(csvDir)
    val csvBack = spark.read.schema(docs.schema)
      .option("header", "true").option("escape", "\"").csv(csvDir)
    assert(csvBack.count() == docs.count())
    assert(csvBack.exceptAll(docs).isEmpty && docs.exceptAll(csvBack).isEmpty)

    // ORC: the columnar alternative to parquet, schema preserved
    val orcDir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    docs.write.mode("overwrite").orc(orcDir)
    val orcBack = spark.read.orc(orcDir)
    assert(orcBack.schema == docs.schema)
    assert(orcBack.exceptAll(docs).isEmpty && docs.exceptAll(orcBack).isEmpty)
  }

  test("registered UDFs work from spark.sql (§2.10)") {
    graft.functions.Udfs.registerAll(spark)
    val r = spark.sql(
      """SELECT clean_string('Hello, World!') AS c,
                keyword_score('word1 wo', array('wo', 'd1')) AS s,
                coerce_int('5.0') AS i,
                coerce_bool('yes') AS b,
                extract_markers('a START b END c', 'START', 'END') AS m,
                title_from_target('create a meal plan. x') AS t,
                safe_filename('My Plan!', 'plan') AS f""").collect().head
    assert(r.getAs[String]("c") == "hello world")
    assert(r.getAs[Int]("s") == 2)
    assert(r.getAs[Long]("i") == 5L)
    assert(r.getAs[Boolean]("b"))
    assert(r.getAs[String]("m") == "START b END")
    assert(r.getAs[String]("t") == "A Meal Plan")
    assert(r.getAs[String]("f") == "My_Plan.md")
    val fenced = spark.sql(
      """SELECT extract_fenced_json('x ```json\n{"a": 1}\n``` y') AS e""").collect().head
    val row = fenced.getStruct(0)
    assert(row.getString(1).contains("\"a\": 1"))
  }
}

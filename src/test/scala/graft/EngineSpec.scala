package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The reference-client parity facade: each test exercises one block
  * of the reference's client-library surface through [[Engine]]. */
class EngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val engine =
    new Engine(spark, kvRoot = SparkTestSession.tempDir("eng_kv").toString)

  test("dataset + view + query + pages (BigQueryClient parity)") {
    engine.ensureDataset("eng_db")
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
      .write.mode("overwrite").saveAsTable("eng_db.t")
    engine.createView("eng_db.v", "SELECT id * 10 AS id10 FROM eng_db.t")
    assert(engine.sql("SELECT SUM(id10) FROM eng_db.v").as[Long].head() == 60L)
    val pages = engine.pages(engine.sql("SELECT id FROM eng_db.t ORDER BY id"), 2).toSeq
    assert(pages.map(_.size) == Seq(2, 1))
  }

  test("external table registers hive-partitioned data (parity: create_external_table)") {
    val dir = SparkTestSession.tempDir("eng_ext").toString
    Seq((1, "x"), (2, "y")).toDF("v", "k")
      .write.mode("overwrite").partitionBy("k").parquet(dir)
    val df = engine.externalTable("eng_ext", "parquet", dir)
    assert(df.columns.contains("k"))
    assert(engine.sql("SELECT COUNT(*) FROM eng_ext WHERE k = 'x'").as[Long].head() == 1L)
  }

  test("replaceSchema evolves a table (parity: update_table_schema)") {
    Seq((1, "a")).toDF("id", "v").write.mode("overwrite").saveAsTable("eng_evolve")
    engine.replaceSchema("eng_evolve", StructType(Seq(
      StructField("id", LongType), // was int
      StructField("v", StringType),
      StructField("extra", DoubleType)))) // new → NULL
    val df = spark.table("eng_evolve")
    assert(df.schema("id").dataType == LongType)
    assert(df.select("extra").head().isNullAt(0))
  }

  test("replaceSchema keeps the table resolvable through a crash at every swap step") {
    val newSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    for (crashAt <- Seq("staged", "aside")) {
      Seq((7, "z")).toDF("id", "v").write.mode("overwrite").saveAsTable("eng_crash")
      engine.replaceSchemaFailpoint =
        step => if (step == crashAt) throw new RuntimeException(s"boom@$step")
      try {
        intercept[RuntimeException](engine.replaceSchema("eng_crash", newSchema))
      } finally engine.replaceSchemaFailpoint = _ => ()
      // the invariant: after a crash at ANY step, the original table
      // still resolves and still has its row (old or new schema)
      assert(spark.table("eng_crash").count() == 1L, s"lost table after crash at $crashAt")
      assert(spark.table("eng_crash").select("v").as[String].head() == "z")
      spark.sql("DROP TABLE IF EXISTS eng_crash")
      spark.sql("DROP TABLE IF EXISTS eng_crash_schema_stage")
      spark.sql("DROP TABLE IF EXISTS eng_crash_schema_old")
    }
  }

  test("blob upload/download (GCSClient parity)") {
    val p = SparkTestSession.tempDir("eng_blob").toString + "/x/y/blob.txt"
    engine.uploadString("hello graft", p)
    assert(engine.downloadString(p) == "hello graft")
  }

  test("kv upsert/query/delete (DatastoreClient parity)") {
    engine.kvUpsert("users", Seq((1L, "ann"), (2L, "bob")).toDF("key", "name"), "key")
    engine.kvUpsert("users", Seq((2L, "BOB")).toDF("key", "name"), "key")
    assert(engine.kvQuery("users", Some("name" -> "BOB"))
      .select("key").as[Long].collect().toSeq == Seq(2L))
    engine.kvDelete("users", Seq(1L).toDF("key"), "key")
    assert(engine.kvQuery("users").count() == 1)
  }

  test("kv upsert: a failed swap-in rename throws and keeps the previous rows") {
    FaultInjectingFileSystem.register(spark)
    val real = SparkTestSession.tempDir("eng_kv_fault").toString
    val kv = new Engine(spark, kvRoot = s"faulty://$real/kv")
    kv.kvUpsert("users", Seq((1L, "ann"), (2L, "bob")).toDF("key", "name"), "key")
    def users(): Seq[(Long, String)] =
      kv.kvQuery("users").as[(Long, String)].collect().toSeq.sorted
    try {
      // fail only the rename that moves the rewrite INTO the live kind,
      // never the rollback of the original (which moves an aside back)
      FaultInjectingFileSystem.failRenameWhen =
        (src, dst) => dst.getName == "users" && !src.getName.contains("_pre")
      intercept[java.io.IOException] {
        kv.kvUpsert("users", Seq((3L, "cy")).toDF("key", "name"), "key")
      }
    } finally FaultInjectingFileSystem.reset()
    assert(users() == Seq((1L, "ann"), (2L, "bob")))
    assert(graft.catalog.KeyValue.load(spark, s"faulty://$real/kv/users").count() == 2L)
    val siblings = new java.io.File(s"$real/kv").list().toSeq
    assert(siblings == Seq("users"), s"stray swap dirs: $siblings")
    // the next upsert merges onto every earlier row, not the delta alone
    kv.kvUpsert("users", Seq((3L, "cy")).toDF("key", "name"), "key")
    assert(users() == Seq((1L, "ann"), (2L, "bob"), (3L, "cy")))
  }

  test("tag from enum template takes first allowed value (DataCatalog parity)") {
    Seq(1).toDF("v").write.mode("overwrite").saveAsTable("eng_tagged")
    engine.tagFromTemplate("eng_tagged", Seq(
      "data_classification" -> Seq("public", "internal"),
      "retention" -> Seq("30d", "90d")))
    assert(engine.getTag("eng_tagged", "data_classification").contains("public"))
    assert(engine.getTag("eng_tagged", "retention").contains("30d"))
    engine.authorizeView("eng_db", "eng_tagged")
    assert(engine.getTag("eng_tagged", "authorized_for_dataset").contains("eng_db"))
  }

  test("native expressions callable from SQL after Registry.register") {
    graft.expressions.Registry.register(spark)
    spark.sql("SELECT 'the quick brown fox the end' AS t")
      .createOrReplaceTempView("reg_t")
    val r = spark.sql(
      """SELECT graft_fingerprint(graft_tokens(t)) AS fp,
                graft_simhash64(graft_tokens(t)) AS sh,
                size(graft_char_shingles(t, 3)) AS nsh,
                graft_lang_score(graft_tokens(t)) AS lang,
                graft_dup_ngram_frac(graft_tokens(t), 1) AS dup1
         FROM reg_t""").head()
    assert(r.getLong(0) != 0L)
    assert(r.getLong(1) != 0L)
    assert(r.getInt(2) > 10)
    assert(r.getString(3) == "en")
    // 'the' appears twice: its 6 chars of the 22 token chars covered
    assert(r.getDouble(4) == 0.2727)
    val r2 = spark.sql(
      """SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
                graft_intersect_count(array('a','b'), array('b','c')) AS ic,
                graft_json_long('{"k": 42}', 'k') AS k,
                graft_json_long('not json', 'k') AS bad""").head()
    assert(math.abs(r2.getDouble(0) - 1.0) < 1e-12)
    assert(r2.getLong(1) == 1L)
    assert(r2.getLong(2) == 42L)
    assert(r2.isNullAt(3))
  }

  test("alert message formatting (helper.slack_alert parity)") {
    val msg = Alerts.format("prod", "Task failed", "export_dag", "quality_zone",
      java.time.Instant.parse("2024-05-10T05:00:00Z"), "http://logs/x",
      now = java.time.Instant.parse("2024-05-10T06:00:00Z"))
    assert(msg.contains("[prod] Task failed"))
    assert(msg.contains("*Task*: quality_zone"))
    assert(msg.contains("2024-05-10T06:00:00+00:00"))
    assert(msg.contains("*Log Url*: http://logs/x"))
  }

  test("failure callback posts the formatted alert end-to-end (helper.py:7-37)") {
    // loopback webhook capturing the POSTed body
    val received = new java.util.concurrent.LinkedBlockingQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      received.put(body)
      ex.sendResponseHeaders(200, 2L)
      ex.getResponseBody.write("ok".getBytes); ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/hook"
      val cb = Alerts.onFailure(url, "prod", "Pipeline step failed",
        "export_dag", "http://logs/fjc",
        java.time.Instant.parse("2024-05-10T05:00:00Z"))
      val boom = graft.pipeline.Runner.Step("quality_zone",
        () => throw new RuntimeException("bad zone"))
      intercept[graft.pipeline.Runner.StepFailed] {
        graft.pipeline.Runner.run(Seq(boom), onFailure = cb)
      }
      val body = received.poll(5, java.util.concurrent.TimeUnit.SECONDS)
      assert(body != null, "webhook never received the alert")
      // Slack payload shape + the reference's full field set
      assert(body.startsWith("""{"text": """))
      assert(body.contains(""""username": "airflow""""))
      assert(body.contains("[prod] Pipeline step failed: bad zone"))
      assert(body.contains("*Dag*: export_dag"))
      assert(body.contains("*Task*: quality_zone"))
      assert(body.contains("*Execution Datetime (scheduler)*: 2024-05-10T05:00:00Z"))
      assert(body.contains("*Execution Datetime*: "))
      assert(body.contains("*Log Url*: http://logs/fjc"))
      // newlines must be JSON-escaped, not raw
      assert(!body.contains("\n"))
      // an unreachable webhook is swallowed, not thrown
      server.stop(0)
      val deadCb = Alerts.onFailure(url, "prod", "x", "d", "l",
        java.time.Instant.EPOCH)
      deadCb("step", new RuntimeException("e")) // must not throw
    } finally {
      try server.stop(0) catch { case _: Throwable => () }
    }
  }
}

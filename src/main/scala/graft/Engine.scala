package graft

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.catalog.{Catalog, KeyValue}

/** One-stop client facade: every method of the reference's four GCP
  * client libraries has a counterpart here, so a user of the reference
  * can switch call-for-call (SURVEY.md §1, §3.3).
  *
  * | reference                                  | here |
  * |--------------------------------------------|------|
  * | BigQueryClient.create_dataset (bigquery.py:17-22)        | ensureDataset |
  * | BigQueryClient.create_table (bigquery.py:32-54)          | createPartitionedTable |
  * | BigQueryClient.create_view (bigquery.py:56-64)           | createView |
  * | BigQueryClient.create_external_table (bigquery.py:66-85) | externalTable |
  * | BigQueryClient.update_table_schema (bigquery.py:87-90)   | replaceSchema |
  * | BigQueryClient.query → result().pages (bigquery.py:92-94)| sql / pages |
  * | BigQueryClient.authorize_view (bigquery.py:96-106)       | authorizeView |
  * | GCSClient.upload_from_string (gcs.py:6-9)                | uploadString |
  * | GCSClient.download_as_string (gcs.py:10-13)              | downloadString |
  * | DatastoreClient.query (datastore.py:10-15)               | kvQuery |
  * | DatastoreClient.create_or_update… (datastore.py:17-26)   | kvUpsert |
  * | DatastoreClient.delete (datastore.py:28-29)              | kvDelete |
  * | DataCatalogClient.attach_bq_tag_from_template (datacatalog.py:46-61) | tagFromTemplate |
  */
class Engine(val spark: SparkSession, kvRoot: String = "/tmp/graft_kv") {

  // ---- warehouse / catalog (≙ bigquery.py)

  def ensureDataset(name: String): Unit = Catalog.ensureDatabase(spark, name)

  def createPartitionedTable(df: DataFrame, table: String,
                             partitionField: Option[String] = None,
                             byIngestTime: Boolean = false): Unit =
    Catalog.writePartitioned(df, table, partitionField, byIngestTime)

  def createView(name: String, sql: String): Unit =
    Catalog.ensureView(spark, name, sql)

  /** Schema-on-read over a hive-partitioned directory, registered as a
    * temp view (≙ external table). */
  def externalTable(name: String, format: String, path: String): DataFrame = {
    val df = Catalog.readExternal(spark, format, path)
    df.createOrReplaceTempView(name)
    df
  }

  /** Replace-schema evolution (≙ `update_table_schema`): rewrite the
    * table with columns cast/projected to the new schema (missing
    * columns become NULL).
    *
    * Swap discipline: stage → rename old aside → rename stage in →
    * drop aside. The old data is never dropped until the replacement
    * is in place, so a crash at any point leaves a recoverable table
    * (either under its own name or under the `_schema_old` aside); a
    * failure on the second rename rolls the aside back. Stage/aside
    * names stay in the table's own database. */
  def replaceSchema(table: String, schema: StructType): Unit = {
    import org.apache.spark.sql.functions._
    val cur = spark.table(table)
    val projected = schema.fields.map { f =>
      if (cur.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    def quoted(name: String) = s"`${name.replace(".", "`.`")}`"
    val parts = table.split('.')
    def sibling(suffix: String) =
      (parts.dropRight(1) :+ (parts.last + suffix)).mkString(".")
    val stage = sibling("_schema_stage")
    val aside = sibling("_schema_old")
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(stage)}")
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(aside)}")
    cur.select(projected.toSeq: _*)
      .write.mode("overwrite").saveAsTable(stage)
    replaceSchemaFailpoint("staged")
    spark.sql(s"ALTER TABLE ${quoted(table)} RENAME TO ${quoted(aside)}")
    try {
      replaceSchemaFailpoint("aside")
      spark.sql(s"ALTER TABLE ${quoted(stage)} RENAME TO ${quoted(table)}")
    } catch {
      case e: Throwable =>
        spark.sql(s"ALTER TABLE ${quoted(aside)} RENAME TO ${quoted(table)}")
        throw e
    }
    spark.sql(s"DROP TABLE ${quoted(aside)}")
  }

  /** Test seam: invoked between swap steps so specs can simulate a
    * crash at each point and assert the table stays resolvable. */
  private[graft] var replaceSchemaFailpoint: String => Unit = _ => ()

  /** Full Catalyst lifecycle entry (≙ `query`). */
  def sql(q: String): DataFrame = spark.sql(q)

  /** Paged results (≙ `result().pages`): driver pulls one partition at
    * a time via toLocalIterator, grouped into pages. */
  def pages(df: DataFrame, pageSize: Int = 1000): Iterator[Seq[Row]] =
    df.toLocalIterator().asScala.grouped(pageSize)

  private implicit class IterAsScala[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }

  /** View authorization has no OSS-Spark analogue (SURVEY.md §1.1) —
    * record the grant as a table property so governance tooling can
    * read the intent. */
  def authorizeView(dataset: String, view: String): Unit =
    Catalog.tagTable(spark, view, "authorized_for_dataset", dataset)

  // ---- object store (≙ gcs.py)

  private def fs(path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def uploadString(data: String, path: String): Unit = {
    val p = new Path(path)
    val out = fs(path).create(p, true)
    try out.write(data.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def downloadString(path: String): String = {
    val in = fs(path).open(new Path(path))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  // ---- KV entity store (≙ datastore.py); kinds are parquet dirs

  private def kindPath(kind: String) = s"$kvRoot/$kind"

  def kvQuery(kind: String, filter: Option[(String, Any)] = None): DataFrame = {
    val df = KeyValue.load(spark, kindPath(kind))
    filter.map { case (f, v) => KeyValue.queryByProperty(df, f, v) }.getOrElse(df)
  }

  def kvUpsert(kind: String, updates: DataFrame, keyCol: String): Unit = {
    val path = kindPath(kind)
    // explicit existence probe: a missing kind (or missing kvRoot)
    // bootstraps from the updates alone. Spark's missing-path error
    // differs by whether the PARENT exists (AnalysisException vs raw
    // FileNotFoundException), so probing beats catching.
    val merged =
      if (fs(path).exists(new Path(path)))
        KeyValue.upsert(KeyValue.load(spark, path), updates, keyCol)
      else updates
    swapWrite(merged, path)
  }

  def kvDelete(kind: String, keys: DataFrame, keyCol: String): Unit = {
    val path = kindPath(kind)
    // deleting from a kind that was never created is a no-op
    if (fs(path).exists(new Path(path)))
      swapWrite(KeyValue.delete(KeyValue.load(spark, path), keys, keyCol), path)
  }

  /** Write-to-temp + [[Catalog.swapIn]]: a parquet dir can't be
    * overwritten while it feeds the writing plan; the swap keeps the
    * rewrite distributed (no driver collect), and a failed rename
    * leaves the previous kind in place instead of losing it. */
  private def swapWrite(df: DataFrame, dest: String): Unit =
    Catalog.swapIn(fs(dest), new Path(dest), "kv") { tmp =>
      df.write.mode("overwrite").parquet(tmp.toString)
    }

  // ---- governance tags (≙ datacatalog.py)

  /** Tag a table from an enum-typed template, taking the FIRST allowed
    * value of every field (≙ `create_tag_from_template_enumtypes`,
    * datacatalog.py:33-44); idempotent like the AlreadyExists pass. */
  def tagFromTemplate(table: String,
                      template: Seq[(String, Seq[String])]): Unit =
    template.foreach { case (field, allowed) =>
      require(allowed.nonEmpty, s"template field $field has no allowed values")
      Catalog.tagTable(spark, table, field, allowed.head)
    }

  def getTag(table: String, key: String): Option[String] =
    Catalog.getTag(spark, table, key)
}

/** Failure-alert formatting AND delivery (≙ helper.slack_alert,
  * helper.py:7-37): [[format]] builds the message body, [[post]]
  * delivers it to an incoming-webhook URL as the Slack payload shape
  * `{"text": ..., "username": "airflow"}` (what SlackWebhookOperator
  * sends), and [[onFailure]] adapts the pair to
  * `Runner.run(onFailure = ...)` so a failed step posts end-to-end
  * like the reference's Airflow `on_failure_callback`. */
object Alerts {

  /** POST the message to an incoming webhook. Returns the HTTP status.
    * Delivery is best-effort by contract: the alert path must never
    * mask the original failure, so callers that want fire-and-forget
    * use [[onFailure]], which swallows transport errors. */
  def post(webhookUrl: String, message: String,
           username: String = "airflow"): Int = {
    def q(s: String): String =
      s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    val body = s"""{"text": "${q(message)}", "username": "${q(username)}"}"""
    // bounded connect + request timeouts: a webhook that accepts the
    // connection and never answers must degrade to the logged-and-
    // swallowed path, not hang the pipeline's failure path
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(5))
      .build()
    val req = java.net.http.HttpRequest
      .newBuilder(java.net.URI.create(webhookUrl))
      .timeout(java.time.Duration.ofSeconds(10))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
        body, java.nio.charset.StandardCharsets.UTF_8))
      .build()
    client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding())
      .statusCode()
  }

  /** `Runner.run(onFailure = ...)` adapter: formats the failed step
    * into the reference's field set and posts it. Transport failures
    * are swallowed (logged to stderr) — an unreachable webhook must
    * not replace the step's own exception as the pipeline's failure. */
  def onFailure(webhookUrl: String, envLevel: String, headline: String,
                dag: String, logUrl: String,
                schedulerExecDate: java.time.Instant)
      : (String, Throwable) => Unit =
    (step, err) => {
      val msg = format(envLevel, s"$headline: ${err.getMessage}", dag, step,
        schedulerExecDate, logUrl)
      try post(webhookUrl, msg)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[alerts] webhook delivery failed: $e")
      }
      ()
    }
  def format(envLevel: String, headline: String, dag: String, task: String,
             schedulerExecDate: java.time.Instant,
             logUrl: String,
             now: java.time.Instant = java.time.Instant.now()): String = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss'+00:00'")
      .withZone(java.time.ZoneOffset.UTC)
    s"""[$envLevel] $headline
       |*Dag*: $dag
       |*Task*: $task
       |*Execution Datetime (scheduler)*: $schedulerExecDate
       |*Execution Datetime*: ${fmt.format(now)}
       |*Log Url*: $logUrl""".stripMargin
  }
}

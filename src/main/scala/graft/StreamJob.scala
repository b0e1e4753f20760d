package graft

import org.apache.spark.sql.SparkSession
import graft.conf.S3Conf
import graft.ingest.Parse
import graft.model.Schemas
import graft.sources.{FileLinesSource, KafkaRawSource, RawSource}
import graft.streaming.StreamSink

/** The runnable streaming job — entry point A of the reference
  * (`spark_processing.py::main`, spark/app/spark_processing.py:165-215) as
  * one env-configured main: build session (with S3A config when given) →
  * source → parse → checkpointed append sink → awaitTermination.
  *
  * Environment contract (mirrors the reference's env surface,
  * spark_processing.py:169-197, with a file-source stand-in for
  * environments without the Kafka jar):
  *
  *   GRAFT_BROKERS / GRAFT_TOPIC   Kafka source (both set), else
  *   GRAFT_SOURCE_DIR              JSON-lines file source
  *   GRAFT_OUT_PATH (required)     sink path (file:// or s3a://)
  *   GRAFT_CHECKPOINT (required)   checkpoint location
  *   GRAFT_STRICT=true             drop malformed rows (Athena parity)
  *                                 instead of PERMISSIVE all-NULL rows
  *   GRAFT_DLQ_DIR                 quarantine malformed lines RAW under
  *                                 this dir instead of dropping or
  *                                 NULL-filling them (DeadLetter routing;
  *                                 exclusive with GRAFT_STRICT and
  *                                 GRAFT_PARTITION_DATE — the quarantine
  *                                 sink uses the generation-dir layout)
  *   GRAFT_PARTITION_DATE=true     partition the sink by ingest_date —
  *                                 the reference's unimplemented tip
  *                                 (docs/athena-integrity-check.md:64)
  *   GRAFT_S3_REGION [+ GRAFT_S3_ENDPOINT, GRAFT_S3_ACCESS_KEY,
  *   GRAFT_S3_SECRET_KEY, GRAFT_S3_SESSION_TOKEN]   S3A config (S3Conf)
  *
  * The job blocks on awaitTermination like the reference
  * (spark_processing.py:162) and stops the session in a finally
  * (spark_processing.py:210-215 — the fix its own code review asks for).
  */
object StreamJob {

  def main(args: Array[String]): Unit = {
    val env = sys.env
    val builder = Sessions.builder("graft-stream-job")
      .config("spark.sql.shuffle.partitions", env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    env.get("GRAFT_S3_REGION").foreach { region =>
      val (endpoint, ssl) = env.get("GRAFT_S3_ENDPOINT") match {
        case Some(raw) =>
          val (ep, sslPref) = S3Conf.normalizeEndpoint(raw)
          (Some(ep), sslPref)
        case None => (None, None)
      }
      S3Conf.sessionConfigs(
        region = region,
        accessKey = env.get("GRAFT_S3_ACCESS_KEY"),
        secretKey = env.get("GRAFT_S3_SECRET_KEY"),
        sessionToken = env.get("GRAFT_S3_SESSION_TOKEN"),
        endpoint = endpoint,
        sslEnabled = ssl,
      ).foreach { case (k, v) => builder.config(k, v) }
    }
    val spark = builder.getOrCreate()

    try start(spark, env).awaitTermination()
    finally spark.stop()
  }

  /** Assemble and start the source→parse→sink query from an env map —
    * separated from [[main]] so tests drive it with a file source and
    * `processAllAvailable` instead of blocking forever. */
  def start(spark: SparkSession, env: Map[String, String])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val out = env.getOrElse("GRAFT_OUT_PATH", sys.error("GRAFT_OUT_PATH is required"))
    val ckpt = env.getOrElse("GRAFT_CHECKPOINT", sys.error("GRAFT_CHECKPOINT is required"))
    val source: RawSource = (env.get("GRAFT_BROKERS"), env.get("GRAFT_TOPIC")) match {
      case (Some(brokers), Some(topic)) => KafkaRawSource(brokers, topic)
      case _ => FileLinesSource(
        env.getOrElse("GRAFT_SOURCE_DIR", sys.error(
          "either GRAFT_BROKERS+GRAFT_TOPIC or GRAFT_SOURCE_DIR is required")))
    }
    val strict = env.get("GRAFT_STRICT").exists(_.equalsIgnoreCase("true"))
    val partitionDate =
      env.get("GRAFT_PARTITION_DATE").exists(_.equalsIgnoreCase("true"))
    env.get("GRAFT_DLQ_DIR") match {
      case Some(dlq) =>
        require(!strict && !partitionDate,
          "GRAFT_DLQ_DIR is exclusive with GRAFT_STRICT and " +
            "GRAFT_PARTITION_DATE (the quarantine sink routes malformed " +
            "rows instead of dropping them, and lands generation dirs)")
        graft.streaming.DeadLetter.start(
          Parse.parseTagged(source.stream(spark), Schemas.nameRecord),
          out, dlq, ckpt,
          trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      case None =>
        var parsed = Parse.parse(source.stream(spark), Schemas.nameRecord, strict)
        val partitionCols =
          if (partitionDate) {
            parsed = parsed.withColumn("ingest_date",
              org.apache.spark.sql.functions.current_date())
            Seq("ingest_date")
          } else Nil
        StreamSink.start(parsed, out, ckpt, partitionCols = partitionCols)
    }
  }
}

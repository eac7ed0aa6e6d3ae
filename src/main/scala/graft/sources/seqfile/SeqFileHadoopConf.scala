package graft.sources.seqfile

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The Hadoop configuration of every seqfile read and write path: the
  * session's own (`spark.hadoop.*`, `sparkContext.hadoopConfiguration`,
  * Hadoop keys set on the SQL conf). The driver builds it once per query
  * and passes it to listing, planning, pushdown and commit; executors get it
  * as one broadcast per scan or write, as Spark's own file scans do.
  *
  * A freshly constructed default Configuration instead re-parses Hadoop's
  * `core-default.xml` (about 10 ms of CPU) every time — once per task and
  * once per sidecar read — and never sees the session's settings, so a
  * filesystem scheme or credential set only on the session would not reach
  * the connector. Copying the session's conf, or deserializing the
  * broadcast one, parses nothing. */
object SeqFileHadoopConf {

  def of(spark: SparkSession): Configuration = spark.sessionState.newHadoopConf()

  /** The active session's conf, for callers that build a scan, stream or
    * reader directly rather than through a query. */
  def current(): Configuration = of(SparkSession.active)

  /** Ship `conf` to executors: one broadcast per scan or write. */
  def broadcast(conf: Configuration): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))
}

package graft

import org.apache.spark.sql.SparkSession

/** graft's session profile: the settings every graft session runs
  * under, each with its reason, kept in one place instead of copied
  * into each main. Callers add only what is theirs to choose (master,
  * shuffle width, AQE, warehouse).
  *
  *   val spark = Session.profile(SparkSession.builder().master("local[8]"))
  *     .getOrCreate()
  */
object Session {

  /** Conf key → value, in the order [[profile]] applies them. */
  val settings: Seq[(String, String)] = Seq(
    // every hour bucket, day boundary and watermark in graft, and the
    // DuckDB oracle it is checked against, reads timestamps in UTC; a
    // host-zone session would shift the buckets
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet carries TIMESTAMP(NANOS), which Spark reads only
    // as raw longs under this conf (graft.io.Tables.events converts
    // them). It cannot be set per read, only when the session is built
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // local and headless: nobody reads the web UI, and its status
    // store costs driver work on every task event
    "spark.ui.enabled" -> "false",
    // generated-class cache sized to the query surface (static conf,
    // default 100 entries): the 183-query suite generates ~3-4k
    // distinct codegen classes, so at the default every query's
    // classes are evicted before its next execution and every run
    // re-pays Janino compilation and JIT tier-up (OPTIMIZATION_r18.md:
    // a 12-query subset's median run went from 62.9 s at 100 entries
    // to 49.0 s at 8192). A production driver hosting
    // this many distinct queries sizes the cache to its plan inventory
    // the same way; it is data-independent and changes no result
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    // a >10 s JVM freeze (a full GC of a large heap, or a host stall
    // of the kind the stall probe records) breaches the default
    // executor-heartbeat RPC timeout and kills the whole SparkContext
    // mid-run; an sf1 bench died exactly this way. Stretch the
    // tolerance so a stall costs a timing, not the run
    "spark.executor.heartbeatInterval" -> "60s",
    "spark.network.timeout" -> "600s")

  /** `builder` with every [[settings]] entry applied. */
  def profile(builder: SparkSession.Builder): SparkSession.Builder =
    settings.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
}

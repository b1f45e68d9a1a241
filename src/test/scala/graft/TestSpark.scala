package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** One shared local session for the whole ScalaTest run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // StreamingJoinHelper WARN-logs a full stack trace for EVERY join
    // predicate it cannot turn into a state bound (expected for the
    // interval join's long-typed overlap re-check — see
    // EventStreams.overlapPairsStream); the noise drowns real warnings.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.catalyst.analysis.StreamingJoinHelper",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** `df` with a `Join` above it: a broadcast self-join on its unique,
    * non-null `idCol`. Same rows, same columns in the same order, but
    * [[graft.operators.OpConf.sizeBytes]] reports an unknown size, so
    * every size-dispatched operator takes its large-input tier. The
    * hint keeps the helper's own join a broadcast hash join, so a plan
    * assertion about shuffle joins sees only the operator's. */
  def joinedAbove(df: DataFrame, idCol: String): DataFrame =
    df.join(broadcast(df.select(idCol)), Seq(idCol))
      .select(df.columns.map(col): _*)
}

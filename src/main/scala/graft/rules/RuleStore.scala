package graft.rules

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Rule persistence (reference rules.rs:26-47: rules live in a JSON file,
  * rewritten on every mutation).
  *
  * The Spark-native store is a single-partition JSON dataset — human-
  * readable like the reference's rules.json, atomic via overwrite, and
  * loadable straight into the broadcast dim the engine joins against.
  * Lifecycle mutations (add/remove/enable/disable/renew) are pure DataFrame
  * transforms: load → transform → save.
  */
object RuleStore {

  /** Staged write + swap: `mode("overwrite")` straight onto `path` deletes
    * the old store BEFORE the new one exists — a crash (or an interrupted
    * shutdown) mid-write loses every rule. Writing to a staged sibling
    * first shrinks the exposed window to one directory rename, and
    * [[load]] recovers the rename-not-yet-done case from the staged dir.
    *
    * The Hadoop FS API reports delete/rename failure via BOOLEAN, not
    * exception (object-store rename semantics; or a concurrent
    * out-of-lock load completing the swap first) — both results are
    * checked and a failure THROWS rather than leaving the store silently
    * stranded in `.staged` (the staged dir still holds the data, so
    * [[load]]'s recovery path completes the swap on the next read).
    * The delete→rename window itself is non-atomic: the live loop reads
    * the store once and then writes it only through one [[RuleBook]]
    * (a reader outside it can observe the store missing mid-swap). */
  def save(rules: DataFrame, path: String): Unit = {
    val staged = path + ".staged"
    rules.coalesce(1).write.mode("overwrite").json(staged)
    val conf = rules.sparkSession.sparkContext.hadoopConfiguration
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(conf)
    if (fs.exists(hPath) && !fs.delete(hPath, true))
      throw new java.io.IOException(
        s"RuleStore.save: could not delete old store at $path " +
          s"(new state is intact in $staged; load() will recover it)")
    if (!fs.rename(new org.apache.hadoop.fs.Path(staged), hPath))
      throw new java.io.IOException(
        s"RuleStore.save: rename $staged -> $path failed " +
          s"(new state is intact in $staged; load() will recover it)")
  }

  /** Load keeps `exp_notification` (the once-only expiry-notice counter
    * [[sweepNotices]] documents as "persist the result") — dropping it on
    * the save/load roundtrip would re-arm every past notification. Files
    * written before the counter existed read it as null; sweepNotices
    * coalesces that to 0. */
  def load(spark: SparkSession, path: String): DataFrame = {
    // crash recovery: a save that died between delete and rename left the
    // data only in the staged dir — finish the swap before reading
    val conf = spark.sparkContext.hadoopConfiguration
    val hPath = new org.apache.hadoop.fs.Path(path)
    val hStaged = new org.apache.hadoop.fs.Path(path + ".staged")
    val fs = hPath.getFileSystem(conf)
    if (!fs.exists(hPath) && fs.exists(hStaged)) fs.rename(hStaged, hPath)
    spark.read.schema(
      "name STRING, kind STRING, pattern STRING, num_arg INT, enabled BOOLEAN, " +
        "susp_only BOOLEAN, no_delay BOOLEAN, expiry_us LONG, actions STRING, " +
        "exp_notification INT")
      .json(path)
  }

  /** `signup rules add` — refuses duplicate names (rules.rs:49-57). */
  def add(rules: DataFrame, rule: RuleRow, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val newDf = Seq((rule.name, rule.kind, rule.pattern, rule.numArg, rule.enabled,
      rule.suspOnly, rule.noDelay, rule.expiryUs, rule.actions))
      .toDF("name", "kind", "pattern", "num_arg", "enabled", "susp_only",
        "no_delay", "expiry_us", "actions")
    // allowMissingColumns: a fresh rule has no exp_notification counter yet
    // (null ⇒ 0 at the next sweep)
    rules.unionByName(
      newDf.join(rules.select("name"), Seq("name"), "left_anti"),
      allowMissingColumns = true)
  }

  def remove(rules: DataFrame, name: String): DataFrame =
    rules.filter(col("name") =!= name)

  def setEnabled(rules: DataFrame, namePattern: String, enabled: Boolean): DataFrame =
    rules.withColumn("enabled",
      when(col("name").rlike(namePattern), lit(enabled)).otherwise(col("enabled")))

  def renew(rules: DataFrame, name: String, newExpiryUs: Long): DataFrame =
    rules.withColumn("expiry_us",
      when(col("name") === name, lit(newExpiryUs)).otherwise(col("expiry_us")))

  /** Expiry sweep (eventhandler.rs:418-480): drop rules >3 days past expiry. */
  def sweep(rules: DataFrame, nowUs: Long): DataFrame =
    rules.filter(col("expiry_us").isNull ||
      lit(nowUs) <= col("expiry_us") + lit(3L * 86400L * 1000000L))

  private val dayUs = 86400L * 1000000L

  /** The once-only expiry notifications (eventhandler.rs:430-460): a rule
    * notifies "expiring in less than a day" exactly once
    * (`exp_notification` 0 → 1) and "has expired" exactly once (≤1 → 2).
    * Input rules may carry an `exp_notification` column (absent ⇒ 0);
    * returns each rule with the `notice` to send this sweep (null = none)
    * and the advanced counter — run before [[sweep]], persist the result. */
  def sweepNotices(rules: DataFrame, nowUs: Long): DataFrame = {
    val withState =
      if (rules.columns.contains("exp_notification")) rules
      else rules.withColumn("exp_notification", lit(0))
    val state = coalesce(col("exp_notification"), lit(0))
    val expiringSoon = col("expiry_us").isNotNull &&
      col("expiry_us") < lit(nowUs + dayUs) && state === 0
    val expired = col("expiry_us").isNotNull &&
      col("expiry_us") < lit(nowUs) && state <= 1
    // reference branch order: the "expiring soon" arm wins while the
    // counter is 0 — even for an already-expired rule, which then reports
    // "expired" on the NEXT sweep (eventhandler.rs if/else-if)
    withState
      .withColumn("notice",
        when(expiringSoon, lit("expiring_soon"))
          .when(expired, lit("expired")))
      .withColumn("exp_notification",
        when(expiringSoon, lit(1)).when(expired, lit(2)).otherwise(state))
  }
}

/** The live loop's rule set, held on the driver for one
  * [[graft.GraftApp.start]] — the reference's in-memory rules, owned by one
  * consumer and written through to rules.json on each change (main.rs:15,
  * rules.rs:26-47).
  *
  * Construction loads the store once through [[RuleStore.load]] (which
  * finishes a crashed save's swap) and fails if it cannot. [[current]] is a
  * `LocalRelation` over the rows in memory: immutable, uncached, safe to use
  * from any thread. [[mutate]] serializes every change and swaps the rows
  * only after [[RuleStore.save]] succeeded, so memory never runs ahead of
  * the store. Only this process writes the store, so memory is
  * authoritative and the file is never read again.
  */
final class RuleBook(spark: SparkSession, path: String) {
  private val stored = RuleStore.load(spark, path)
  private val schema = stored.schema
  @volatile private var rows: Seq[Row] = stored.collect().toSeq

  def current: DataFrame = spark.createDataFrame(rows.asJava, schema)

  /** Apply `f` to the current rules, save the result, then adopt it. */
  def mutate(f: DataFrame => DataFrame): Unit = synchronized {
    val next = f(current).select(schema.fieldNames.toSeq.map(col): _*).collect().toSeq
    RuleStore.save(spark.createDataFrame(next.asJava, schema), path)
    rows = next
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM (suites run in a
  * single forked JVM; building a session per suite costs ~10s each).
  */
object SparkSessionTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with the given session conf keys set, then puts each key
    * back as it was before: its previous explicit value, or unset.
    */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = spark.conf.getAll
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally kv.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None    => spark.conf.unset(k)
      }
    }
  }

  /** `GraftMetricsListener`s registered on the shared context right now
    * (listenerBus is private[spark]: public in bytecode, reached by
    * reflection) — the leak check of every listener-registering path
    */
  def graftListeners(): Int = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].asScala
      .count(_.isInstanceOf[graft.pipeline.GraftMetricsListener])
  }
}

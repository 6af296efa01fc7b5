package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem

/** JVM side of the daily-feed benchmark (see perfbench/README.md). One
  * process runs one mode and writes one JSON record for run.py:
  *
  *   replay     rounds of feed days through ingest -> normalize -> mart
  *              -> report ([[Replay]])
  *   warehouse  one replay round that builds a warehouse, then rounds of
  *              the analyst read mix against it (the build's training run)
  *   reads      rounds of the read mix against a warehouse that an
  *              earlier warehouse run built ([[Reads]])
  *
  * Arguments are `--key value` pairs; run.py passes them.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0, "arguments are --key value pairs")
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val spark = graft.GraftSession.get()
    val ready = System.currentTimeMillis()
    try {
      val tracer = new Tracer(spark, a("trace") == "1")
      val body = a("mode") match {
        case "replay" => Replay.run(spark, tracer, a)
        case "warehouse" => warehouse(spark, tracer, a)
        case "reads" => reads(spark, tracer, a)
        case m => throw new IllegalArgumentException(s"unknown mode $m")
      }
      val sc = spark.sparkContext
      val env = Map(
        "master" -> sc.master,
        "default_parallelism" -> sc.defaultParallelism,
        "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
        "jdk" -> s"${System.getProperty("java.vm.name")} ${
          System.getProperty("java.runtime.version")}",
        "spark" -> spark.version)
      val record = body ++ Map(
        "env" -> env,
        "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
        "session_ready_ms" -> ready)
      new com.fasterxml.jackson.databind.ObjectMapper()
        .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
        .writeValue(new java.io.File(a("out")), record)
    } finally spark.stop()
  }

  private def warehouse(spark: org.apache.spark.sql.SparkSession,
      tracer: Tracer, a: Map[String, String]): Map[String, Any] = {
    val built = Replay.run(spark, tracer, a ++ Map("seconds" -> "0",
      "record" -> "1"))
    tracer.detach()
    Map("build" -> built, "reads" -> Reads.run(spark, new Tracer(spark, tracer.on),
      a, new graft.storage.Lakehouse(spark, s"${a("lakes")}/r1"),
      built("day_versions").asInstanceOf[Seq[Map[String, Long]]],
      built("day_end_ms").asInstanceOf[Seq[Long]]))
  }

  /** `days` holds one line per feed day of the warehouse build: the
    * clock at the end of the day's load, then `table=version` pairs.
    */
  private def reads(spark: org.apache.spark.sql.SparkSession,
      tracer: Tracer, a: Map[String, String]): Map[String, Any] = {
    val days = scala.io.Source.fromFile(a("days"), "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split("\t").toSeq).toSeq
    Map("reads" -> Reads.run(spark, tracer, a,
      new graft.storage.Lakehouse(spark, a("lake")),
      days.map(_.tail.map { tv =>
        val Array(t, v) = tv.split("=")
        t -> v.toLong
      }.toMap),
      days.map(_.head.toLong)))
  }

  /** Bytes the JVM's Hadoop filesystems have written so far, data and
    * metadata (executors run in this JVM in local mode).
    */
  def fsBytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum
  }

  /** Paths of the regular files under `path`. */
  def files(path: String): Set[String] = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) Set.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_)).toArray
        .map(_.toString).toSet
      finally s.close()
    }
  }

  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Per-layer figures shared by both modes, per round. `acc` holds the
    * mode's own accumulators (storage, reads, probes), already summed
    * over the phase; missing keys read 0.
    */
  def layers(tot: Map[String, Tracer.Totals], rounds: Int,
      acc: mutable.Map[String, Double], rowsDelivered: Double,
      tops: Seq[String]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def per(x: Double) = x / rounds
    val none = new Tracer.Totals
    for (n <- Seq("ingest", "etl", "mart", "report", "reads")) {
      val t = tot.getOrElse(n, none)
      out(s"$n.wall_s") = per(t.wallS)
      out(s"$n.jobs") = per(t.jobs.toDouble)
      out(s"$n.stages") = per(t.stages.toDouble)
      out(s"$n.tasks") = per(t.tasks.toDouble)
      out(s"$n.task_s") = per(t.taskMs / 1e3)
      out(s"$n.plan_s") = per(t.planMs / 1e3)
      out(s"$n.shuffle_bytes") = per(t.shuffleBytes.toDouble)
      out(s"$n.gc_ms") = per(t.gcMs)
      out(s"$n.jit_ms") = per(t.jitMs)
    }
    val etl = tot.getOrElse("etl", none).jobsBySite
    for (f <- Seq("Scd2", "Scd1", "Lakehouse", "other"))
      out(s"etl.jobs.$f") = per(etl.getOrElse(f, 0L).toDouble)
    for ((k, probe) <- Seq("staging" -> "probe.staging",
        "f1f2" -> "probe.f1f2", "f3" -> "probe.f3", "f4" -> "probe.f4"))
      out(s"mart.${k}_s") = per(tot.getOrElse(probe, none).wallS)
    val top = tops.flatMap(tot.get)
    val landing = acc.getOrElse("landing_bytes", 0.0)
    val written = acc.getOrElse("bytes_written", 0.0)
    out("storage.commits") = per(acc.getOrElse("commits", 0.0))
    out("storage.files_written") = per(acc.getOrElse("files_written", 0.0))
    out("storage.bytes_written") = per(written)
    out("storage.write_amp") = if (landing > 0) written / landing else 0.0
    out("storage.protocol_wait_ms") = per(acc.getOrElse("protocol_wait_ms", 0.0))
    out("storage.resolve_s") = per(acc.getOrElse("resolve_s", 0.0))
    for (g <- Seq("summary", "point", "asof", "range", "history"))
      out(s"reads.${g}_s") = per(acc.getOrElse(s"reads.$g", 0.0))
    val rowsRead = top.map(_.inRows).sum.toDouble
    out("sources.bytes_read") = per(top.map(_.inBytes).sum.toDouble)
    out("sources.rows_read") = per(rowsRead)
    out("sources.rows_read_per_row_returned") =
      if (rowsDelivered > 0) rowsRead / rowsDelivered else 0.0
    out.toMap
  }
}

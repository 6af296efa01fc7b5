package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.report.Summary
import graft.storage.Lakehouse
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Analyst reads against a warehouse that a [[Replay]] round built.
  * The queries file holds one tab-separated query a line; `day` is a
  * feed day, resolved to the table version committed by (or the clock
  * at the end of) that day's load:
  *
  *   point    dim key value           current SCD2 row of a key
  *   asof     dim key value ts        SCD2 row valid at ts
  *   range    lo hi                   fact rows with lo <= trans_date < hi
  *   versions dim                     committed versions
  *   readat   dim day                 time travel by version
  *   readasof dim day                 time travel by commit time
  *   changes  dim fromDay toDay       change feed between the two
  *
  * A round is one pass (the plot_report pivot, Summary.fraudsByDay,
  * then every query but the change feeds) followed by each change feed
  * as an op of its own. Rounds repeat until `seconds` have passed and
  * there were at least six passes: a fresh JVM's passes still speed up
  * as the JIT compiles the read path, so the median after the cold one
  * is taken over five. With tracing on, every second round is traced
  * and the others run detached, so the traced and untraced passes warm
  * up alike; at least eight passes run then. The first
  * round's answers are written for run.py to check against DuckDB; every
  * later round must return the same answers.
  */
object Reads {
  private def group(kind: String): String = kind match {
    case "point" | "asof" | "range" => kind
    case _ => "history"
  }

  def run(spark: SparkSession, tr: Tracer, a: Map[String, String],
      lake: Lakehouse, dayVersions: Seq[Map[String, Long]],
      dayEndMs: Seq[Long]): Map[String, Any] = {
    val all = scala.io.Source.fromFile(a("queries"), "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split("\t", -1).toSeq).toIndexedSeq
    val (feeds, qs) = all.partition(_.head == "changes")
    def version(dim: String, day: String) = dayVersions(day.toInt - 1)(dim)
    val seconds = a("seconds").toDouble
    val minPasses = if (tr.on) 8 else 6
    // per-layer accumulators, fed by traced rounds only
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var traced = false
    def timed[A](key: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body
      finally if (traced) acc(key) += (System.nanoTime() - t0) / 1e9
    }

    def answer(q: Seq[String]): (Array[Row], StructType) = q match {
      case Seq("point", dim, key, v) =>
        val df = timed("resolve_s")(lake.read(dim))
        collect(df.filter(col(key) === v && col("end_dt").isNull))
      case Seq("asof", dim, key, v, ts) =>
        val t = lit(Timestamp.valueOf(ts))
        val df = timed("resolve_s")(lake.read(dim))
        collect(df.filter(col(key) === v && col("start_dt") <= t &&
          (col("end_dt").isNull || col("end_dt") > t)))
      case Seq("range", lo, hi) =>
        val df = timed("resolve_s")(lake.read("fact_transactions"))
        collect(df.filter(col("trans_date") >= lit(Timestamp.valueOf(lo)) &&
          col("trans_date") < lit(Timestamp.valueOf(hi))))
      case Seq("versions", dim) =>
        val vs = timed("resolve_s")(lake.versions(dim))
        (vs.map { case (v, full) => Row(v, full) }.toArray,
          StructType(Seq(StructField("version", LongType),
            StructField("full", BooleanType))))
      case Seq("readat", dim, day) =>
        collect(timed("resolve_s")(lake.readAt(dim, version(dim, day))))
      case Seq("readasof", dim, day) =>
        collect(timed("resolve_s")(lake.readAsOf(dim, dayEndMs(day.toInt - 1))))
      case Seq("changes", dim, from, to) =>
        collect(timed("resolve_s")(lake.changesBetween(dim,
          version(dim, from), version(dim, to))))
      case other =>
        throw new IllegalArgumentException(s"bad query: ${other.mkString(" ")}")
    }

    var first: Option[IndexedSeq[(Array[Row], StructType)]] = None
    var firstPivot: Option[Array[Row]] = None
    val firstFeeds = mutable.Map.empty[Int, (Array[Row], StructType)]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val feedOps = mutable.ArrayBuffer.empty[Map[String, Any]]
    var rowsReturned = 0L
    def same(x: Array[Row], y: Array[Row]) = canon(x) == canon(y)
    val phaseStart = System.currentTimeMillis()
    val n0 = System.nanoTime()
    do {
      traced = tr.on && passes.size % 2 == 1
      if (traced) tr.attach() else tr.detach()
      val t0 = System.nanoTime()
      val res = try {
        val pivot = tr.span("report") {
          timed("reads.summary")(Summary.fraudsByDay(lake).collect())
        }
        val ans = tr.span("reads") {
          qs.map(q => timed(s"reads.${group(q.head)}")(answer(q)))
        }
        Right((pivot, ans))
      } catch { case NonFatal(e) => Left(e.toString) }
      val wall = (System.nanoTime() - t0) / 1e9
      val verdict = res.flatMap { case (pivot, ans) =>
        if (traced) rowsReturned += pivot.length + ans.map(_._1.length).sum
        (first, firstPivot) match {
          case (Some(f), Some(p)) =>
            if (same(p, pivot) && f.zip(ans).forall(t => same(t._1._1, t._2._1)))
              Right(())
            else Left("answers differ from the first round")
          case _ =>
            first = Some(ans); firstPivot = Some(pivot); Right(())
        }
      }
      passes += Map("wall_s" -> wall, "traced" -> traced,
        "ok" -> verdict.isRight, "error" -> verdict.left.toOption)
      feeds.zipWithIndex.foreach { case (q, i) =>
        val s = System.nanoTime()
        val r = tr.span("reads") {
          try Right(timed("reads.history")(answer(q)))
          catch { case NonFatal(e) => Left(e.toString) }
        }
        val ok = r.flatMap { ans =>
          firstFeeds.get(i) match {
            case None => firstFeeds(i) = ans; Right(())
            case Some(f) =>
              if (same(f._1, ans._1)) Right(())
              else Left("answers differ from the first round")
          }
        }
        feedOps += Map("wall_s" -> (System.nanoTime() - s) / 1e9,
          "traced" -> traced, "ok" -> ok.isRight, "error" -> ok.left.toOption)
      }
    } while ((System.nanoTime() - n0) / 1e9 < seconds || passes.size < minPasses)
    tr.detach()
    val runS = (System.nanoTime() - n0) / 1e9
    val phaseEnd = System.currentTimeMillis()

    val traceErrors = mutable.ArrayBuffer.empty[String]
    val layers =
      if (!tr.on) Map.empty[String, Double]
      else {
        val (tot, unattributed) = tr.census(phaseStart, phaseEnd)
        if (unattributed != 0)
          traceErrors += s"$unattributed jobs fell in no span"
        val spanSum = Seq("report", "reads").flatMap(tot.get).map(_.wallS).sum
        val ops = (passes ++ feedOps).filter(_("traced") == true)
        val opSum = ops.map(_("wall_s").asInstanceOf[Double]).sum
        if ((spanSum - opSum).abs > math.max(0.005 * ops.size, 0.01 * opSum))
          traceErrors += f"spans $spanSum%.4f s vs ops $opSum%.4f s"
        Main.layers(tot, passes.count(_("traced") == true), acc,
          rowsReturned.toDouble, Seq("report", "reads"))
      }

    // the first round's answers, for the DuckDB check
    val out = a("answers")
    def save(rows: Array[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
    for (ans <- first; ((rows, schema), i) <- ans.zipWithIndex
        if qs(i).head != "versions")
      save(rows, schema, s"q$i")
    for ((i, (rows, schema)) <- firstFeeds) save(rows, schema, s"feed$i")
    Map("passes" -> passes, "feeds" -> feedOps, "run_s" -> runS,
      "lake_bytes" -> Main.dirBytes(lake.root),
      "pivot" -> firstPivot.map(Replay.pivotJson),
      "versions" -> first.map(_.zip(qs).collect {
        case ((rows, _), q) if q.head == "versions" =>
          rows.toSeq.map(r => Seq(r.getLong(0), r.getBoolean(1)))
      }),
      "layers" -> layers, "trace_errors" -> traceErrors)
  }

  private def collect(df: DataFrame): (Array[Row], StructType) =
    (df.collect(), df.schema)

  private def canon(rows: Array[Row]): Seq[String] =
    rows.map(_.toString).sorted.toSeq
}

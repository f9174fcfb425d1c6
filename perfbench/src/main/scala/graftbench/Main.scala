package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Session

/** The benchmark's JVM: one closed-loop client running one workload's
  * plan (written by run.py) against the session `Session.local` builds.
  *
  *   java ... graftbench.Main <plan.json>
  *
  * Round 0 of the plan is the warm-up pass; rounds 1.. are the timed
  * phase, run in order, so every run attempts whole rounds and a fixed
  * amount of work. Only calls into graft are timed: file
  * mutations that stand in for other writers (copy, append) are
  * not. The record (one JSON object per line) holds every operation's
  * timings and results; run.py checks the results and computes the
  * metrics after this JVM has exited.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(new File(args(0)))
    val sess = Session.local("graft-perfbench")
    val sfDir = plan.path("sf_dir").asText("")
    val readyMs = System.currentTimeMillis()
    val runner = new Runner(sess, sfDir, new Tracer(plan.path("trace").asBoolean(false), sess.spark))
    val out = ArrayBuffer[String](Json.obj("type" -> Json.str("setup"),
      "ready_ms" -> readyMs.toString))

    val inputDir = plan.path("input_dir").asText("")
    out += (if (inputDir.nonEmpty) runner.load(inputDir) else runner.register())

    val rounds = plan.path("rounds").elements().asScala.toIndexedSeq
    rounds.head.elements().asScala.foreach(op => out += runner.op(op, 0, cold = true))
    for (r <- 1 until rounds.size)
      rounds(r).elements().asScala.foreach(op => out += runner.op(op, r, cold = false))
    val jit = jitMs()
    val gc = gcMs()
    // later collections free what Spark's cleaner released after the
    // first (unpersisted blocks, shuffles and broadcasts); the least heap
    // used after any of them is the live heap, since background threads
    // allocate between a collection and its reading
    val heap = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    out += Json.obj("type" -> Json.str("end"), "rounds" -> (rounds.size - 1).toString,
      "live_heap_mb" -> (heap / 1048576.0).toString,
      "jit_total_ms" -> jit.toString, "gc_total_s" -> (gc / 1000.0).toString)
    out ++= runner.tracer.spansJson
    // the catalog's own DuckDB oracles, for run.py's checks
    val oracles = graft.SparkEntry.oracleSql
    plan.path("oracles").elements().asScala.map(_.asText()).foreach { n =>
      oracles.get(n).foreach(sql =>
        out += Json.obj("type" -> Json.str("oracle"), "name" -> Json.str(n), "sql" -> Json.str(sql)))
    }
    Files.write(Paths.get(plan.path("out").asText()), out.asJava, UTF_8)
    // the record is complete; no orderly Spark shutdown is needed for it
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** Executes plan operations against one session. */
final class Runner(sess: Session, sfDir: String, val tracer: Tracer) {
  private val spark: SparkSession = sess.spark
  private lazy val catalog = graft.SparkEntry.queries

  /** Loads the input directory the way `lsql -d DIR` does. Traced, the
    * same work is split into its public calls (discovery, then one
    * loadFile per file) so each gets a span. */
  def load(dir: String): String = {
    tracer.op = "load"
    val (tables, s) =
      if (!tracer.on) tracer.span("ingest.load_dir", dir)(sess.loadDir(dir))
      else tracer.span("load") {
        val (files, _) = tracer.span("ingest.discover", dir)(graft.ingest.Discover.inDir(dir))
        files.flatMap(p => tracer.span("ingest.load", p.toString, Files.size(p))(
          sess.loadFile(p.toString))._1)
      }
    Json.obj("type" -> Json.str("load"), "s" -> s.toString,
      "tables" -> Json.arr(tables.map(Json.str)))
  }

  /** Makes the catalog's sf0.1 parquet tables available as views. */
  def register(): String = {
    tracer.op = "load"
    val (_, s) = tracer.span("catalog.register", sfDir)(graft.Tables.registerAll(spark, sfDir))
    Json.obj("type" -> Json.str("load"), "s" -> s.toString, "tables" -> Json.arr(Nil))
  }

  def op(op: JsonNode, round: Int, cold: Boolean): String = {
    val id = op.path("id").asText()
    tracer.op = id
    val steps = ArrayBuffer.empty[String]
    var lat = 0.0
    var err = "null"
    val (_, _) = tracer.span("op", op.path("tpl").asText()) {
      try {
        op.path("steps").elements().asScala.foreach { st =>
          val (rec, s) = step(st)
          lat += s
          steps += rec
        }
      } catch {
        case e: Throwable =>
          err = Json.str(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
      }
    }
    System.err.println(f"[perfbench] $id ${op.path("tpl").asText()} $lat%.3f s${if (err == "null") "" else " " + err}")
    Json.obj("type" -> Json.str("op"), "id" -> Json.str(id),
      "tpl" -> Json.str(op.path("tpl").asText()), "round" -> round.toString,
      "cold" -> cold.toString, "lat" -> lat.toString,
      "steps" -> Json.arr(steps), "err" -> err)
  }

  private def rowsJson(df: DataFrame, rows: Array[org.apache.spark.sql.Row]): Seq[(String, String)] =
    Seq("cols" -> Json.arr(df.columns.toSeq.map(Json.str)),
      "rows" -> Json.arr(rows.toSeq.map(r => Json.arr((0 until r.length).map(i => Json.value(r.get(i)))))))

  /** Runs one step; returns its record and its timed seconds. */
  private def step(st: JsonNode): (String, Double) = {
    val k = st.path("k").asText()
    def text(f: String) = st.path(f).asText()
    def rec(s: Double, extra: (String, String)*) =
      (Json.obj(Seq("k" -> Json.str(k), "s" -> s.toString) ++ extra: _*), s)
    k match {
      case "sql" =>
        val (df, a) = tracer.span("engine.analyze")(sess.sql(text("sql")))
        val (_, p) = tracer.span("engine.plan")(df.queryExecution.executedPlan)
        val (rows, x) = tracer.span("engine.exec")(df.collect())
        rec(a + p + x, rowsJson(df, rows): _*)
      case "describe" =>
        val (d, s) = tracer.span("engine.describe")(sess.describeTables())
        rec(s, "rows" -> Json.arr(d.map { case (n, rows, cols, bytes) =>
          Json.arr(Seq(Json.str(n), rows.toString, cols.toString, bytes.toString))
        }))
      case "export" =>
        val (df, a) = tracer.span("engine.analyze")(sess.sql(text("sql")))
        val (_, s) = tracer.span("io.save", text("path"))(graft.io.Save.save(df, text("path")))
        rec(a + s, "save_s" -> s.toString)
      case "load" =>
        val size = Files.size(Paths.get(text("path")))
        val (name, s) = tracer.span("ingest.load", text("path"), size)(sess.loadFile(text("path")))
        require(name.isDefined, s"loadFile skipped ${text("path")}")
        rec(s, "table" -> Json.str(name.get))
      case "catalog" =>
        val fn = catalog(text("name"))
        val (df, b) = tracer.span("ext.build", text("name"))(fn(spark, sfDir))
        val (_, p) = tracer.span("engine.plan")(df.queryExecution.executedPlan)
        val (rows, x) = tracer.span("engine.exec")(df.collect())
        val pinned = if (tracer.on) pinnedMb() else 0.0
        val (_, r) = tracer.span("ext.release")(graft.ext.CacheRegistry.clearAll())
        rec(b + p + x + r, rowsJson(df, rows) :+ ("pinned_mb" -> pinned.toString): _*)
      case "pagerank_sinks" =>
        // the same graph twice: string node ids, and relabelled to longs
        import spark.implicits._
        val arcs = st.path("arcs").elements().asScala.map(a => (a.get(0).asText(), a.get(1).asText())).toSeq
        val ids = st.path("ids")
        val named = arcs.toDF("src", "dst")
        val numbered = arcs.map { case (a, b) => (ids.get(a).asLong(), ids.get(b).asLong()) }.toDF("src", "dst")
        val iters = st.path("iterations").asInt()
        var total = 0.0
        val out = Seq(named, numbered).map { edges =>
          val (df, b) = tracer.span("ext.build", "pageRank")(
            graft.ext.Graph.pageRank(edges, iters, allNodesReceive = true))
          val (rows, x) = tracer.span("engine.exec")(df.collect())
          total += b + x
          Json.arr(rows.toSeq.map(r => Json.arr(Seq(Json.value(r.get(0)), Json.value(r.get(1))))))
        }
        val pinned = if (tracer.on) pinnedMb() else 0.0
        val (_, r) = tracer.span("ext.release")(graft.ext.CacheRegistry.clearAll())
        total += r
        rec(total, "rows" -> out(0), "rows_long" -> out(1), "pinned_mb" -> pinned.toString)
      case "copy" =>
        // replace in place the way an editor or exporter does: write a
        // sibling, then rename over the old file
        val dst = Paths.get(text("to"))
        val tmp = dst.resolveSibling("." + dst.getFileName + ".tmp")
        Files.copy(Paths.get(text("from")), tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, dst, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
        rec(0.0)
      case "append" =>
        Files.write(Paths.get(text("to")), Files.readAllBytes(Paths.get(text("from"))),
          StandardOpenOption.APPEND)
        rec(0.0)
      case other => throw new IllegalArgumentException(s"unknown step kind $other")
    }
  }

  /** Memory and disk held by persisted RDDs (operator pins and
    * checkpoints), in MB. */
  private def pinnedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}

package graft

import graft.engine.Aql
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** CLI entry point mirroring the reference's primary lifecycle
  * (reference cmd/main.go:17-28, cmd/run.go:14-55, cmd/test.go:13-51):
  *
  *   runMain graft.Main run  --script job.aql [--params '{"k":"v"}'] [--v|--vv]
  *   runMain graft.Main test --script job.aql [--params '{"k":"v"}']
  *   runMain graft.Main explain --script job.aql   (formatted Spark plans)
  *
  * `--v` / `--vv` mirror the reference's verbosity params (docs cli.md):
  * INFO-level / TRACE-level engine events printed to the console.
  *
  * `--params` is a JSON object of option name → value, merged over SET
  * globals with CLI precedence (reference aql/parser.go:322-355 StrToOpts,
  * compiler.go:241-268). `test` neutralizes destinations/EXECs and runs
  * TEST-block assertions (§3.2); any failure exits nonzero with a [FAIL]
  * line per assertion, matching the reference's first-failure-stops
  * contract (engine/transform.go:67-101).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    val code = try run(args.toSeq, spark)
    finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Testable core: parses args, executes, prints; returns the exit code. */
  def run(args: Seq[String], spark: SparkSession,
          out: String => Unit = Console.out.println): Int = {
    val (cmd, rest) = args match {
      case Seq(c @ ("run" | "test" | "validate" | "explain" | "serve"), r @ _*) =>
        (c, r)
      case _ =>
        out("usage: graft.Main run|test|validate|explain --script <file.aql> [--params '{…}'] [--v|--vv]\n" +
          "       graft.Main serve [--port 4040] [--ws-port 4041] " +
          "[--db analyst.db.json] [--repos repositories] [--interval 5] " +
          "[--allow-file-repos true]")
        return 2
    }
    // bare verbosity flags (reference cmd params `v`/`vv`, docs cli.md):
    // --v = INFO-level events to console, --vv = TRACE-level. Extracted
    // before pairing so they don't shift the key/value grouping.
    val verbosity =
      if (rest.contains("--vv")) 0 // TRACE
      else if (rest.contains("--v")) 1 // INFO
      else Int.MaxValue // events stay silent; errors surface via [ERROR]
    val logger: (String, String, String) => Unit = (lvl, src, msg) => {
      val ord = graft.engine.Notify.levelOrd(lvl) // shared with Slack logger
      if (ord >= verbosity)
        out(s"[${graft.engine.Notify.Levels(ord)}] $src - $msg")
    }
    val opts = rest.filterNot(a => a == "--v" || a == "--vv")
      .grouped(2).collect {
        case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      }.toMap
    if (cmd == "serve") return serve(opts, spark, out)
    val scriptPath = opts.getOrElse("script", {
      out("--script is required"); return 2
    })
    val params = opts.get("params").map(parseParams).getOrElse(Map.empty)
    val path = Paths.get(scriptPath)
    val text = new String(Files.readAllBytes(path), "UTF-8")
    val baseDir = Option(path.getParent).getOrElse(Paths.get("."))
    if (cmd == "validate") {
      // compile-only (reference cmd/validate.go): no data access
      val errs = Aql.validate(text, params, baseDir)
      errs.foreach(e => out(s"[INVALID] $e"))
      if (errs.isEmpty) out("script is valid")
      return if (errs.isEmpty) 0 else 1
    }
    if (cmd == "explain") {
      // Beyond-parity operator UX (the reference streams rows and cannot
      // show a plan): compile in test mode — destinations mocked, EXECs
      // neutralized, so no sink is written — and print each block's
      // optimized physical plan. This is how a user audits pushdown /
      // broadcast / shuffle shape before pointing the script at 100 TB.
      return try {
        val r = Aql.run(spark, text, cliParams = params,
          baseDir = baseDir, testMode = true)
        r.outputs.toSeq.sortBy(_._1).foreach { case (name, df) =>
          out(s"== BLOCK $name ==")
          out(df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        }
        0
      } catch {
        case e: Exception => out(s"[ERROR] ${e.getMessage}"); 1
      }
    }
    try {
      val r = Aql.run(spark, text, cliParams = params,
        baseDir = baseDir, testMode = cmd == "test", logger = logger)
      r.console.foreach(out)
      if (cmd == "test") {
        r.testFailures.foreach(f => out(s"[FAIL] $f"))
        if (r.testFailures.isEmpty) out("all assertions passed")
      }
      if (r.testFailures.nonEmpty) 1 else 0
    } catch {
      case e: Exception => out(s"[ERROR] ${e.getMessage}"); 1
    }
  }

  /** `graft.Main serve` — the reference's HTTP service + cron scheduler
    * (reference http/main.go:142-193: REST task/invocation/repository API,
    * ws run/compile channel → POST /run, /validate; scheduler polled every
    * `--interval` seconds, default 5 = reference `schedulerInterval`,
    * http/main.go:31). Runs until the process is killed.
    */
  private def serve(opts: Map[String, String], spark: SparkSession,
      out: String => Unit): Int = {
    import graft.server._
    import java.nio.file.Paths
    val port = opts.getOrElse("port", "4040").toInt
    val db = Paths.get(opts.getOrElse("db", "analyst.db.json"))
    val reposDir = Paths.get(opts.getOrElse("repos", "repositories"))
    val intervalSec = opts.getOrElse("interval", "5").toLong
    // local/dev only: lets POST /repositories clone file:// remotes
    opts.get("allow-file-repos")
      .foreach(v => sys.props("graft.server.allowFileRepos") = v)
    val store = new TaskStore(Some(db))
    val runAql: (String, Map[String, String]) => ExecResult =
      (scriptPath, params) => {
        try {
          val p = Paths.get(scriptPath)
          val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          val base = Option(p.getParent).getOrElse(Paths.get("."))
          val r = Aql.run(spark, text, cliParams = params, baseDir = base)
          ExecResult(success = true, log = r.console.mkString("\n"), error = "")
        } catch {
          case e: Exception => ExecResult(success = false, log = "",
            error = Option(e.getMessage).getOrElse(e.toString))
        }
      }
    val runInline: (String, Map[String, String]) => ExecResult =
      (script, params) => {
        try {
          val r = Aql.run(spark, script, cliParams = params)
          ExecResult(success = true, log = r.console.mkString("\n"), error = "")
        } catch {
          case e: Exception => ExecResult(success = false, log = "",
            error = Option(e.getMessage).getOrElse(e.toString))
        }
      }
    val scheduler = new Scheduler(store, runAql)
    val app = new HttpServerApp(store, scheduler, runInline,
      s => Aql.validate(s, Map.empty, Paths.get(".")), reposDir,
      staticDir = opts.get("static").map(Paths.get(_)))
    val bound = app.start(port)
    // the reference's /ws channel, on its own port (JDK server can't
    // hijack a connection for the upgrade — README Divergences)
    val ws = new WsServer(WsChannel.handler(
      (script, onEntry) =>
        try {
          val r = Aql.run(spark, script, consoleHook = onEntry)
          ExecResult(success = true, log = r.console.mkString("\n"), error = "")
        } catch {
          case e: Exception => ExecResult(success = false, log = "",
            error = Option(e.getMessage).getOrElse(e.toString))
        },
      s => Aql.validate(s, Map.empty, Paths.get("."))))
    val wsBound = ws.start(opts.get("ws-port").map(_.toInt).getOrElse(
      if (port == 0) 0 else port + 1))
    out(s"graft server listening on :$bound (ws :$wsBound, db=$db, repos=$reposDir)")
    // --iterations N (tests/scripts): poll N times then shut down cleanly;
    // absent = serve forever like the reference daemon
    val iterations = opts.get("iterations").map(_.toLong)
    var polls = 0L
    while (iterations.forall(polls < _)) {
      Thread.sleep(intervalSec * 1000)
      try { scheduler.next(java.time.Instant.now()); () }
      catch { case e: Exception => out(s"[scheduler] ${e.getMessage}") }
      polls += 1
    }
    scheduler.shutdown()
    ws.stop()
    app.stop()
    0
  }

  /** `--params '{"name":"value"}'` → Map (Jackson ships with Spark). */
  private def parseParams(json: String): Map[String, String] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json)
    import scala.jdk.CollectionConverters._
    m.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }
}

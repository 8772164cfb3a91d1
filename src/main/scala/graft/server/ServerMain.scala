package graft.server

/** Standalone serving entry point — and the JVM half of the Python
  * client's EMBEDDED mode. The reference's default `connect()` boots the
  * engine in-process from `strake.yaml`
  * (/root/reference/python/src/backend/embedded.rs); a JVM engine can't
  * live inside CPython, so the same UX boots this main as a child process
  * and points the client at its ephemeral port.
  *
  * Usage: `graft.server.ServerMain [--config sources.yaml] [--data sfDir]
  * [--port N] [--port-file path]`. The bootstrap admin API key arrives via
  * the GRAFT_API_KEY env var — secrets never appear on a command line
  * (same stance as the CLI's `${VAR}` expansion). The ephemeral port is
  * written to `--port-file` once the server accepts connections.
  *
  * Lifecycle is child-process-shaped: serve until stdin reaches EOF (the
  * parent exited or closed the pipe), then stop Spark and exit 0 — no
  * orphaned JVMs when the Python side dies.
  */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val spark = graft.session.GraftSession.builder(
        sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .appName("graft-server")
      // pins the width Tables and SourceRegistry would set from the data
      .config(sys.env.get("SPARK_GRAFT_SHUFFLE")
        .map("spark.sql.shuffle.partitions" -> _).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    a.get("--data").foreach { dir =>
      graft.Tables(spark, dir).registerAll()
    }
    a.get("--config").foreach { yml =>
      new graft.sources.SourceRegistry(spark)
        .registerAll(graft.sources.SourcesConfig.fromYamlFile(yml))
    }
    // engine settings from graft.yaml beside the sources config (the
    // reference's embedded backend reads strake.yaml the same way;
    // `cli init` writes exactly these keys)
    val settings: Map[String, String] = a.get("--config").flatMap { yml =>
      val dir = Option(java.nio.file.Paths.get(yml).getParent)
        .getOrElse(java.nio.file.Paths.get("."))
      val gy = dir.resolve("graft.yaml")
      if (!java.nio.file.Files.exists(gy)) None
      // a present-but-broken settings file must fail the boot with a
      // message naming the file, not silently fall back to defaults (the
      // user wrote it precisely to change those defaults)
      else scala.util.Try {
        import scala.jdk.CollectionConverters._
        new org.yaml.snakeyaml.Yaml()
          .load[java.util.Map[String, Object]](
            java.nio.file.Files.readString(gy))
          .asScala.map { case (k, v) => k -> String.valueOf(v) }.toMap
      }.fold(e => throw new IllegalArgumentException(
        s"failed to parse $gy: ${e.getMessage}", e), Some(_))
    }.getOrElse(Map.empty)
    // value parses get the key name into the error — an uncaught bare
    // NumberFormatException from a child JVM is undebuggable from the
    // Python side, which only sees a port-file timeout
    def setting[T](key: String, parse: String => Option[T],
        expected: String): Option[T] =
      settings.get(key).map(s => parse(s).getOrElse(
        throw new IllegalArgumentException(
          s"graft.yaml: $key must be $expected, got '$s'")))
    val config = graft.session.GraftConfig(
      defensiveLimit = setting("defensive_limit", _.toIntOption, "an integer")
        .getOrElse(graft.session.GraftConfig().defensiveLimit),
      queryTimeout = setting("query_timeout_seconds", _.toLongOption,
          "a number of seconds")
        .map(scala.concurrent.duration.Duration(_, "s"))
        .getOrElse(graft.session.GraftConfig().queryTimeout))
    val cacheOn = setting("cache_enabled", _.toBooleanOption, "a boolean")
      .getOrElse(true)
    val engine = new graft.session.GraftSession(spark, config,
      cache = Option.when(cacheOn)(graft.session.QueryCache.temp()))
    val key = sys.env.getOrElse("GRAFT_API_KEY", "")
    val auth = new ApiKeyAuthenticator(
      if (key.isEmpty) Map.empty
      else Map(key -> graft.session.AuthenticatedUser("embedded", Set("admin"))))
    val api = new ApiServer(engine, auth.apply)
    // loopback-only: this main exists to be a process-private child of the
    // Python client — never a network-exposed edge with one admin key
    val port = api.start(a.get("--port").map(_.toInt).getOrElse(0),
      bindHost = "127.0.0.1")
    a.get("--port-file").foreach { pf =>
      // write-then-rename so the watching parent never reads a partial file
      val tmp = java.nio.file.Paths.get(pf + ".tmp")
      java.nio.file.Files.writeString(tmp, port.toString)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(pf),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    System.err.println(s"graft server listening on port $port")
    while (System.in.read() != -1) ()
    spark.stop()
    sys.exit(0)
  }
}

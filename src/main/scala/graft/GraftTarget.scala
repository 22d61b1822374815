package graft

import graft.lake.{BatchLoader, SessionLakeCatalog, TargetConfig}
import org.apache.spark.sql.SparkSession

import scala.io.Source

/** CLI entry for the load path — the analog of the reference's console
  * script (`/root/reference/pyproject.toml:50-52` ->
  * `target_iceberg/target.py:64-65`): read Singer JSONL from stdin (or a
  * file), validate config, load every stream, echo STATE to stdout.
  *
  * Usage: graft.GraftTarget --config <config.json> [--input <messages.jsonl>]
  *                          [--strict-batches]
  *                          | --about [--format=<json|markdown>] | --version
  */
object GraftTarget {
  /** Reported by `--version` — the SDK CLI surface the reference inherits
    * (`target.py:64-65`). Read from the jar manifest when packaged;
    * build.sbt's version is the fallback for classes-dir runs. */
  val Version: String =
    Option(getClass.getPackage.getImplementationVersion).getOrElse("0.1.0")

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toList)
    if (opts.contains("version")) {
      println(s"graft-target v$Version")
      return
    }
    if (opts.contains("about")) {
      // discovery surface (reference meltano.yml:13 declares `about`):
      // emit the config JSON-Schema + capabilities, no Spark session needed
      opts.getOrElse("format", "json") match {
        case "json"     => println(TargetConfig.aboutJson)
        case "markdown" => println(TargetConfig.aboutMarkdown)
        case other =>
          System.err.println(
            s"unknown --about format: $other (expected json or markdown)")
          sys.exit(2)
      }
      return
    }
    val configPath = opts.getOrElse("config", {
      System.err.println("usage: GraftTarget --config <config.json> " +
        "[--input <messages.jsonl>] [--strict-batches] " +
        "| --about [--format=<json|markdown>] | --version")
      sys.exit(2)
    })

    val cfg = TargetConfig.fromJson(
      Source.fromFile(configPath, "UTF-8").mkString) match {
      case Right(c) => c
      case Left(errors) =>
        errors.foreach(e => System.err.println(s"config error: $e"))
        sys.exit(1)
    }

    val spark = sparkFor(cfg)
    try {
      val inputPath = opts.get("input") match {
        case Some(path) => path
        case None =>
          // The reference's primary invocation pipes the feed on stdin
          // (README.md:67-70) and streams it with bounded buffers
          // (sinks.py:18,36). Spool stdin to a temp file with a fixed-size
          // copy buffer — O(buffer) driver memory regardless of feed size —
          // then read it like any file input (full executor parallelism,
          // splittable). The former createDataset(getLines.toSeq) held the
          // entire feed on the driver heap. The spool lives on the DRIVER's
          // local disk: remote executors cannot read it, so stdin mode is
          // local-master only (remote deployments pass --input on a shared
          // filesystem), and the path is an explicit file:// URI so it never
          // resolves against a non-local default filesystem.
          if (!spark.sparkContext.isLocal) {
            System.err.println("stdin input requires a local master " +
              s"(got ${spark.sparkContext.master}): executors cannot read " +
              "the driver's spool file — use --input <path> on a shared " +
              "filesystem instead")
            sys.exit(2)
          }
          spoolToTempFile(System.in).toUri.toString
      }
      // fromConfig is the one config->loader mapping; only the CLI-flag
      // surface (strict-batches) is passed alongside
      val loader = BatchLoader.fromConfig(spark, new SessionLakeCatalog(spark),
        cfg, strictBatches = opts.contains("strict-batches"))
      // ONE recursive listing drives both the routing decision and the
      // load itself (a second ListObjects sweep over a near-2^19-file S3
      // feed would double startup metadata cost). loadFiles keys feed
      // order on per-file byte offsets — exact at any split count, no
      // counting pre-pass, no full-feed cache. A SINGLE compressed file
      // (.gz etc.) has no exact line offsets but decodes as one split, so
      // scan order IS feed order — it takes the legacy scan path. Several
      // files where ANY is compressed must refuse loudly: across codec
      // files seq would follow Spark's size-descending partition planning,
      // not feed order — records before their SCHEMA would be silently
      // rejected or mistyped.
      val files = BatchLoader.listInput(spark, Seq(inputPath))
      val compressed = files.filter(BatchLoader.isCompressed)
      val report =
        if (compressed.isEmpty) loader.loadFiles(files)
        else if (files.lengthCompare(1) == 0)
          loader.load(spark.read.textFile(files.head))
        else {
          System.err.println("input mixes compressed files with other " +
            s"files (${compressed.length} of ${files.length} compressed): " +
            "feed order across compressed files is not preservable — " +
            "decompress the feed, or pass a single compressed file")
          sys.exit(2)
        }
      report.rowsPerStream.foreach { case (t, n) =>
        System.err.println(s"[graft-target] ${cfg.icebergCatalogNamespaceName}.$t: $n rows")
      }
      report.rejectedPerStream.foreach { case (t, n) =>
        if (n > 0)
          System.err.println(s"[graft-target] ${cfg.icebergCatalogNamespaceName}.$t: " +
            s"$n records REJECTED (schema validation)")
      }
      // Singer contract: STATE goes to stdout once writes are durable
      report.statesToEcho.foreach(println)
    } finally spark.stop()
  }

  /** Session build — connect-once (vs the reference's per-batch reconnect,
    * sinks.py:43-65). S3/REST settings map to Hadoop/catalog conf so the same
    * config drives a real object-store deployment; harmless locally. */
  private def sparkFor(cfg: TargetConfig): SparkSession = {
    val builder = Session.builder().appName("graft-target")
    sys.env.get("SPARK_GRAFT_MASTER").foreach(builder.master)
    // config -> fs.s3a.* (TargetConfig.s3aHadoopConf mirrors the
    // reference's FileIO wiring, sinks.py:55-65), as spark.hadoop.* so
    // executors inherit it
    cfg.s3aHadoopConf.foreach { case (k, v) =>
      builder.config(s"spark.hadoop.$k", v)
    }
    // The default in-memory catalog forgets tables when the process exits, so
    // a SECOND CLI run would try CREATE over the existing location and fail.
    // Hive support persists the metastore (derby under cwd) across runs —
    // the connect-once equivalent of the reference's REST catalog durability.
    try builder.enableHiveSupport().getOrCreate()
    catch { case _: IllegalArgumentException => builder.getOrCreate() }
  }

  /** Stream `in` to a temp file with a fixed 64 KiB buffer (deleted on JVM
    * exit). Exposed for tests: feeding a generator stream through proves the
    * pipe path is O(buffer), not O(feed). */
  private[graft] def spoolToTempFile(in: java.io.InputStream): java.nio.file.Path = {
    val tmp = java.nio.file.Files.createTempFile("graft-singer-", ".jsonl")
    tmp.toFile.deleteOnExit()
    val out = java.nio.file.Files.newOutputStream(tmp,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) out.write(buf, 0, n)
        n = in.read(buf)
      }
    } finally out.close()
    tmp
  }

  private def parseArgs(args: List[String],
                        acc: Map[String, String] = Map.empty): Map[String, String] =
    args match {
      case "--config" :: v :: rest  => parseArgs(rest, acc + ("config" -> v))
      case "--input" :: v :: rest   => parseArgs(rest, acc + ("input" -> v))
      case "--strict-batches" :: rest => parseArgs(rest, acc + ("strict-batches" -> "true"))
      case "--about" :: rest => parseArgs(rest, acc + ("about" -> "true"))
      case "--version" :: rest => parseArgs(rest, acc + ("version" -> "true"))
      case "--format" :: v :: rest => parseArgs(rest, acc + ("format" -> v))
      case arg :: rest if arg.startsWith("--format=") =>
        parseArgs(rest, acc + ("format" -> arg.stripPrefix("--format=")))
      case Nil => acc
      case other :: _ =>
        System.err.println(s"unknown argument: $other"); sys.exit(2)
    }
}

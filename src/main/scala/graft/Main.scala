package graft

import graft.engine.Ingest

/** CLI entrypoint.
  *
  * Implements the flags the reference's README documents
  * (`--sources_yaml`, `--env`; README.md:65-68) — the reference's run.py
  * ignores argv and hardcodes the path, which the README itself contradicts;
  * we implement the documented behavior. No Delta/Azure wiring: the engine is
  * plain Spark (SURVEY.md §2.4, §4).
  */
object Main {
  def main(args: Array[String]): Unit = {
    var yaml = "metadata/sources.yaml"
    var env: Option[String] = None
    var parallelism = 1
    var continueOnError = false
    var rest = args.toList
    while (rest.nonEmpty) rest = rest match {
      case Nil                        => Nil
      case "--sources_yaml" :: v :: t => yaml = v; t
      case "--env" :: v :: t          => env = Some(v); t
      case "--parallelism" :: v :: t  => parallelism = v.toInt; t
      case "--continue_on_error" :: t => continueOnError = true; t
      case other :: _ =>
        System.err.println(s"unknown arg: $other")
        System.err.println(
          "usage: graft.Main --sources_yaml <path> [--env <env>] " +
            "[--parallelism <n>] [--continue_on_error]"
        )
        sys.exit(2)
        Nil
    }
    val spark = GraftSession.build()
    try {
      val results = Ingest.runCatalog(spark,
        graft.catalog.YamlCatalog.load(yaml), env, parallelism,
        continueOnError)
      println(s"Ingestion finished successfully: ${results.size} sources.")
    } catch {
      case e: Ingest.PartialIngestFailure =>
        // healthy sources landed; report the partial outcome and fail
        println(s"Ingestion finished with errors: " +
          s"${e.succeeded.size} succeeded, ${e.failures.size} failed " +
          s"(${e.failures.map(_.id).mkString(", ")}).")
        sys.exit(1)
    } finally spark.stop()
  }
}

package graft.conf

/** Runtime configuration, built from catalog defaults + environment.
  *
  * Mirrors the reference's `Config` dataclass
  * (metadata_ingestion/src/config.py:5-17): `env` comes from $ENV (default
  * "dev"); base paths come from the YAML `defaults` block with local-lake
  * fallbacks.
  */
final case class EngineConfig(
    env: String,
    rawBase: String,
    hubBase: String,
    checkpointBase: String
)

object EngineConfig {
  def fromDefaults(
      defaults: Map[String, String],
      env: Option[String] = None
  ): EngineConfig = EngineConfig(
    env = env.orElse(sys.env.get("ENV")).getOrElse("dev"),
    rawBase = defaults.getOrElse("raw_base", "./_lake/raw"),
    hubBase = defaults.getOrElse("hub_base", "./_lake/hub"),
    checkpointBase = defaults.getOrElse("checkpoint_base", "./_lake/_checkpoints")
  )
}

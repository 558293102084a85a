package graft

/** Environment-driven configuration surface — the engine's analogue of
  * the reference's `env_var()` / `os.getenv` parameterization
  * (`/root/reference/dbt/dbt_project.yml:19`,
  * `/root/reference/src/collector/main.py:12-17`): every deployment
  * knob reads an environment variable with the reference's default, so
  * the same build runs unmodified across environments. The env map is
  * injectable (tests pass a literal map; production uses `sys.env`),
  * and a malformed value fails at READ time with the variable named —
  * not deep inside a job as a NumberFormatException.
  *
  * Deliberate deviation: the HTTP base defaults to a non-routable host
  * (this environment is zero-egress by design); production sets
  * `CHECKWX_BASE_URL`.
  */
final case class Config(env: Map[String, String] = sys.env) {

  def str(name: String, default: String): String =
    env.get(name).map(_.trim).filter(_.nonEmpty).getOrElse(default)

  def int(name: String, default: Int): Int =
    env.get(name).map(_.trim).filter(_.nonEmpty).map { v =>
      try v.toInt
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$name must be an integer, got '$v'")
      }
    }.getOrElse(default)

  /** Collector API key (`CHECKWX_API_KEY`) — no default, like the
    * reference: absence means the HTTP source cannot be constructed.
    */
  def checkwxApiKey: Option[String] =
    env.get("CHECKWX_API_KEY").map(_.trim).filter(_.nonEmpty)

  def checkwxBaseUrl: String =
    str("CHECKWX_BASE_URL", "https://api.example.invalid/metar")

  def httpTimeoutSeconds: Int = int("GRAFT_HTTP_TIMEOUT_S", 15)

  /** Warehouse layer/schema name (`DBT_SCHEMA`, reference default
    * `dwh`) — names the dwh layer directory of the medallion DAG.
    */
  def schema: String = str("DBT_SCHEMA", "dwh")
}

package graft.core

/** `SPARK_GRAFT_CPUS`, the core count every main sizes its local
  * session by (`local[n]`, the shuffle partition count, the bench
  * JSON): a positive Int, `default` when unset, a loud failure on
  * anything else. */
object Cpus {
  def fromEnv(default: Int): Int =
    parse(sys.env.get("SPARK_GRAFT_CPUS"), default)

  private[graft] def parse(raw: Option[String], default: Int): Int =
    raw.fold(default)(v => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")))
}

package perfbench

import java.util.Locale

/** Names and human-readable figures the harness prints. Numbers never go
  * through the default locale (`fmt` uses Locale.ROOT), so a
  * comma-decimal default locale cannot corrupt the output. */
object Text {
  private val NameRe = "[A-Za-z0-9_.-]+".r

  /** Metric and op names end up as JSON keys that tools parse. */
  def checkName(name: String): String = {
    require(NameRe.matches(name), s"bad metric name '$name'")
    name
  }

  def fmt(pattern: String, args: Any*): String =
    String.format(Locale.ROOT, pattern, args.map(_.asInstanceOf[AnyRef]): _*)
}

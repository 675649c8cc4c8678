package graftbench

import scala.io.Source
import scala.util.Try

/** The environment of a run, recorded so that a reading taken on a loaded
  * machine identifies itself. */
object Env {
  def capture(): Seq[(String, Any)] = {
    val self = ProcessHandle.current().pid()
    val otherJvms = Try {
      ProcessHandle.allProcesses().filter(p => p.pid() != self &&
        p.info().command().map[java.lang.Boolean](c =>
          c.endsWith("/java") || c == "java").orElse(false)).count()
    }.getOrElse(-1L)
    Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "load1_at_start" -> Try(firstLine("/proc/loadavg").split(' ')(0).toDouble)
        .getOrElse(-1.0),
      "other_jvms_at_start" -> otherJvms,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString)
  }

  private def firstLine(path: String): String = {
    val s = Source.fromFile(path)
    try s.getLines().next() finally s.close()
  }

  /** Peak resident set size of this JVM (VmHWM), in KiB. */
  def vmHwmKb(): Long = Try {
    val s = Source.fromFile("/proc/self/status")
    try s.getLines().find(_.startsWith("VmHWM:")).map(
      _.split("\\s+")(1).toLong).getOrElse(0L) finally s.close()
  }.getOrElse(0L)
}

/** Just enough JSON output for the report lines. */
object Json {
  final case class Raw(s: String)

  def metric(v: Double, unit: String): Raw =
    Raw(s"""{"value":${num(v)},"unit":"$unit"}""")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => "\"" + esc(String.valueOf(other)) + "\""
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => "\"" + esc(k) + "\":" + value(v) }
      .mkString("{", ",", "}")
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every system property, environment variable and `spark.graft.*`
  * session conf the library reads is a knob someone can turn. The sets
  * are pinned here, so adding one shows up as a diff to these lists
  * instead of hiding in a module.
  */
class KnobInventorySpec extends AnyFunSuite {
  private val accessor =
    """(?:sys\.props|sys\.env|System\.getProperty|System\.getenv|Boolean\.getBoolean)"""
  // the accessor, an optional method (get/getOrElse/remove/…), then a
  // string-literal key as the first argument
  private val keyed = (accessor + """(?:\.\w+)?\(\s*"([^"]+)"""").r

  private def mainSources: Seq[java.nio.file.Path] = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".scala")).toSeq
    } finally w.close()
  }

  test("the library reads exactly the documented properties and env vars") {
    val uses = mainSources.flatMap { p =>
      val src = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      accessor.r.findAllMatchIn(src).map { m =>
        p -> keyed.findPrefixMatchOf(src.substring(m.start)).map(_.group(1))
      }
    }
    assert(uses.nonEmpty)
    // a key held in a variable would escape the inventory
    val unkeyed = uses.collect { case (p, None) => p.toString }
    assert(unkeyed.isEmpty, s"non-literal property/env keys in $unkeyed")
    // standard JVM properties (java.version, …) report the runtime;
    // they configure nothing
    val knobs = uses.flatMap(_._2).filterNot(_.startsWith("java.")).toSet
    assert(knobs == Set("graft.now.millis", "SPARK_GRAFT_CPUS"))
  }

  test("the library reads exactly the documented spark.graft.* session confs") {
    val confKey = """"(spark\.graft\.[^"]+)"""".r
    val keys = mainSources.flatMap { p =>
      val src = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      confKey.findAllMatchIn(src).map(_.group(1))
    }.toSet
    assert(keys == Set(
      "spark.graft.asof.maxBuildRows",
      "spark.graft.asof.fallbackBytes",
      "spark.graft.streaming.shufflePartitions"))
  }
}

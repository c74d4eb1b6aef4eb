package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every main builds its SparkSession through [[Session.local]], so the
  * session configuration exists in one place. The only other builder is
  * WordCount's submit-time one (its master and confs come from
  * spark-submit, not from the local factory). */
class SessionSpec extends AnyFunSuite {
  test("only Session and WordCount call the SparkSession builder") {
    val needle = "SparkSession" + ".builder" // split so this file does not match
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
    val hits = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(_.getFileName.toString).toSet
    finally walk.close()
    assert(hits == Set("Session.scala", "WordCount.scala"),
      s"route these through graft.Session.local: ${(hits - "Session.scala" - "WordCount.scala").mkString(", ")}")
  }
}

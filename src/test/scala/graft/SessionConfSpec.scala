package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.SparkOptimizer

import graft.plans.{PruneAvroDecode, ResolveFileTables, SessionWindowEndFilterGuard,
  StandardGroupingSets}

/** The one-factory rule: `GraftEngine.localSession` is the only session
  * builder in the program, so the bench, the gates, the fuzzers and these
  * specs all plan under the conf pinned here.
  */
class SessionConfSpec extends SparkTestBase {

  test("localSession(4) carries the engine's SQL conf, extensions and no UI") {
    val s = GraftEngine.localSession(4, "graft-test")
    assert(s eq spark, "the specs' session is the factory's session")
    val keys = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> GraftEngine.shjThreshold,
      "spark.sql.session.timeZone" -> "UTC")
    assert(keys.map { case (k, _) => k -> s.conf.get(k) } == keys)
    val sc = s.sparkContext
    assert(sc.master == "local[4]")
    assert(sc.getConf.get("spark.ui.enabled") == "false" && sc.uiWebUrl.isEmpty)
    val opt = s.sessionState.optimizer.asInstanceOf[SparkOptimizer]
    assert(opt.extendedOperatorOptimizationRules.contains(PruneAvroDecode))
    val analyzer = s.sessionState.analyzer
    assert(analyzer.extendedResolutionRules.exists(_.isInstanceOf[ResolveFileTables]))
    assert(analyzer.postHocResolutionRules.exists(_.isInstanceOf[StandardGroupingSets]))
    assert(analyzer.extendedCheckRules.exists(_.isInstanceOf[SessionWindowEndFilterGuard]))
  }

  test("src/main builds a SparkSession in exactly one place: GraftEngine.localSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    val sources: Seq[Path] = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val sites = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("SparkSession.builder(")
    } yield s"${root.relativize(f)}:${i + 1}"
    assert(sites.size == 1 && sites.head.startsWith("graft/GraftEngine.scala:"),
      s"session builders outside GraftEngine.localSession:\n  ${sites.mkString("\n  ")}")
  }
}

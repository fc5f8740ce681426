package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** One session builder ([[Sessions]]), one native-function table
  * (`functions.GraftFunctions`), and a guard that keeps them single. */
class SessionsSpec extends SparkSpec {

  private def functionNames(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet

  test("the spec session carries the three engine configs") {
    assert(spark.conf.get("spark.shuffle.sort.bypassMergeThreshold") == "2")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
  }

  test("GraftExtensions injects exactly the functions register adds to a fresh session") {
    val injected = scala.collection.mutable.Buffer[String]()
    val ext = new SparkSessionExtensions {
      override def injectFunction(
          f: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    }
    new graft.plans.GraftExtensions().apply(ext)
    val fresh = spark.newSession()
    val before = functionNames(fresh)
    Tables.region(fresh, sfDir) // every Tables read registers what the session lacks
    val registered = functionNames(fresh) -- before
    assert(injected.size == 7 && registered.size == 7)
    assert(injected.toSet == registered)
  }

  test("a repeat register keeps every function builder the same object") {
    val registry = spark.sessionState.functionRegistry
    val ids = graft.functions.GraftFunctions.descriptions.map(_._1)
    val before = ids.map(registry.lookupFunctionBuilder(_).get)
    Tables.region(spark, sfDir) // registers again
    val after = ids.map(registry.lookupFunctionBuilder(_).get)
    assert(before.zip(after).forall { case (a, b) => a eq b })
  }

  test("a fresh session runs a native-function query with no explicit registration") {
    val fresh = spark.newSession()
    assert(!fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier("word_shingles")))
    val got = SparkEntry.queries("q_boilerplate")(fresh, sfDir).collect().toSeq
    assert(got == SparkEntry.queries("q_boilerplate")(spark, sfDir).collect().toSeq)
  }

  test("drift guard: one session builder, one registration path, no landing marker") {
    def check(root: String, pattern: String, allowed: String*): Unit = {
      val bad = Files.walk(Paths.get(root)).iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".scala") && !allowed.exists(a => p.endsWith(s"/$a")))
        .filter(p => pattern.r.findFirstIn(Files.readString(Paths.get(p))).nonEmpty).toSeq
      assert(bad.isEmpty, s"$pattern in $bad")
    }
    check("src", """SparkSession\.builder""", "Sessions.scala")
    check("src", """GraftFunctions\.register""", "Sessions.scala", "Tables.scala", "VecDot.scala")
    check("src/main", "_LANDED")
  }
}

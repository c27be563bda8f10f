package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Paths}
import java.util.jar.JarFile

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.execution.SparkStrategy

import graft.functions.CharRollingHash
import graft.plans.{GraftExtensions, GroupedTopKStrategy}

/** The session extension and `GraftExtensions.install` expose the same
  * native functions, and every native expression the engine compiles is
  * reachable from SQL through them.
  */
class NativeRegistrySpec extends SparkSpecBase {

  /** What the extension injects into a fresh SparkSessionExtensions. */
  private def injected: (Seq[(FunctionIdentifier, ExpressionInfo)], Seq[SparkSession => SparkStrategy]) = {
    val fns = mutable.Buffer.empty[(FunctionIdentifier, ExpressionInfo)]
    val strategies = mutable.Buffer.empty[SparkSession => SparkStrategy]
    val ext = new SparkSessionExtensions {
      override def injectFunction(
          f: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit = {
        fns += (f._1 -> f._2)
        super.injectFunction(f)
      }
      override def injectPlannerStrategy(builder: SparkSession => SparkStrategy): Unit = {
        strategies += builder
        super.injectPlannerStrategy(builder)
      }
    }
    new GraftExtensions()(ext)
    (fns.toSeq, strategies.toSeq)
  }

  /** Concrete Expression classes compiled under graft/functions/. */
  private def functionExpressionClasses: Seq[Class[_]] = {
    val root = Paths.get(classOf[CharRollingHash].getProtectionDomain.getCodeSource.getLocation.toURI)
    val entries =
      if (Files.isDirectory(root))
        Files.walk(root.resolve("graft/functions")).iterator().asScala.toSeq
          .map(p => root.relativize(p).toString.replace('\\', '/'))
      else {
        val jar = new JarFile(root.toFile)
        try jar.entries().asScala.map(_.getName).toSeq finally jar.close()
      }
    entries
      .filter(e => e.startsWith("graft/functions/") && e.endsWith(".class"))
      .map(e => Class.forName(e.stripSuffix(".class").replace('/', '.'), false, getClass.getClassLoader))
      .filter(c => classOf[Expression].isAssignableFrom(c) && !Modifier.isAbstract(c.getModifiers))
  }

  test("the extension injects exactly the functions install registers, plus GroupedTopK") {
    val (fns, strategies) = injected
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    def nonBuiltin: Set[String] = registry.listFunction()
      .filterNot(FunctionRegistry.builtin.functionExists).map(_.funcName).toSet
    nonBuiltin.foreach(n => registry.dropFunction(FunctionIdentifier(n)))
    assert(nonBuiltin.isEmpty)
    GraftExtensions.install(s)
    assert(fns.map(_._1.funcName).toSet == nonBuiltin)
    assert(fns.size == nonBuiltin.size, "a function name is injected twice")
    assert(strategies.map(_(s)).count(_.isInstanceOf[GroupedTopKStrategy]) == 1)
    // the session already plans with the injected strategy: install adds none
    assert(!s.experimental.extraStrategies.exists(_.isInstanceOf[GroupedTopKStrategy]))
  }

  test("every native Expression under graft/functions has a registry entry") {
    val classes = functionExpressionClasses
    assert(classes.size >= 6, s"class scan found only ${classes.map(_.getSimpleName)}")
    val registered = injected._1.map(_._2.getClassName).toSet
    val missing = classes.map(_.getName).filterNot(registered)
    assert(missing.isEmpty, s"native expressions without a SQL name: $missing")
  }
}

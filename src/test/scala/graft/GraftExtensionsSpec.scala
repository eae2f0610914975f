package graft

import java.net.URI

import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** The SparkSessionExtensions deployment route. The extension acts at
  * session construction, and `newSession()` builds a fresh function
  * registry from it: builtins plus the injected functions, none of the
  * temp functions [[graft.functions.GraftFunctions.register]] installed on
  * the shared test session. */
class GraftExtensionsSpec extends SparkSpec {

  private def functionNames(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet

  test("a fresh session resolves cosine_f32 through the extension alone") {
    val fresh = spark.newSession()
    val r = fresh.sql(
      "SELECT cosine_f32(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS a, " +
        "cosine_f32(array(1.0F, 0.0F), array(0.0F, 1.0F)) AS b").head()
    assert(r.getFloat(0) == 1f && r.getFloat(1) == 0f)
    val err = intercept[Exception](fresh.sql("SELECT cosine_f32(array(1.0F))").collect())
    assert(err.getMessage.contains("2 arguments"), err.getMessage)
  }

  test("the extension injects exactly the functions register installs") {
    val injected = functionNames(spark.newSession()) --
      FunctionRegistry.builtin.listFunction().map(_.funcName)
    val registered = spark.newSession()
    graft.functions.GraftFunctions.register(registered)
    val reg = registered.sessionState.functionRegistry
    val installed = reg.listFunction()
      .filter(id => reg.lookupFunction(id).exists(_.getSource == "scala_udf"))
      .map(_.funcName).toSet
    assert(injected.contains("cosine_f32"))
    assert(injected == installed)
  }

  test("file: resolves to the java.nio local filesystem in a session and a stream child") {
    for (s <- Seq(spark, graft.streaming.EventStream.streamSession(spark))) {
      val conf = s.sessionState.newHadoopConf()
      // Hadoop's FileSystem cache is keyed by scheme and user, not conf
      assert(new Path("file:/tmp").getFileSystem(conf).getClass == classOf[NioLocalFileSystem])
      assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFileSystem])
      assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
      assert(FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem.getClass ==
        classOf[NioLocalFs])
    }
  }
}

package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Codegen-compile hardening (VERDICT r16 #2). Spark's janino compile
  * failures are SILENT: the query still answers correctly, but the stage
  * runs interpreted — the exact class of 100×-scale perf cliff this
  * project pins everywhere else. The r16 cold suite logged
  * `ERROR CodeGenerator: Failed to compile` (a ~17k-line generated
  * method) on the pre-staging NwssSynth projection; the staged rewrite
  * (NwssSynth.scala, shared-column materialization) fixed it, and these
  * pins fail if a single-method blowup ever returns — on the synth scan
  * itself, on the EP1 feature pipeline over it, and on the declared g1
  * flagship path.
  */
class CodegenHardeningSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def assertCompiles(tag: String)(body: => Unit): Unit = {
    val (_, errs) = graft.CodegenTrap.collect(body)
    assert(errs.isEmpty,
      s"$tag: codegen compile failure (silent interpreted fallback): " +
        errs.headOption.getOrElse(""))
  }

  test("the synth scan, the EP1 feature pipeline over it, and the ML " +
      "model matrix all execute fully compiled — no silent janino " +
      "fallback anywhere on the golden path") {
    val raw = NwssSynth.generate(spark, NwssSynth.Config(rows = 20000L))
    assertCompiles("synth scan") {
      raw.write.format("noop").mode("overwrite").save()
    }
    val engineered = Features.pipeline(Seq(col("sample_id")))(raw)
    assertCompiles("EP1 feature pipeline") {
      engineered.write.format("noop").mode("overwrite").save()
    }
    assertCompiles("model matrix") {
      graft.ml.Train.modelMatrix(engineered)
        .write.format("noop").mode("overwrite").save()
    }
    raw.unpersist()
  }

  test("the declared g1 flagship plan executes fully compiled") {
    assertCompiles("g1_etl_prefix") {
      graft.queries.EtlQueries.g1_etl_prefix
        .fn(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
    }
  }
}

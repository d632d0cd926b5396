package graft.operators

import graft.SparkSpec

/** The materialization seam fails loudly on a misconfigured backend. */
class MaterializeSpec extends SparkSpec {

  test("an unknown spark.graft.materialize.backend throws, naming the value") {
    // a typo must not silently select reliable checkpointing into tmpdir
    val session = spark.newSession()
    session.conf.set("spark.graft.materialize.backend", "locall")
    val e = intercept[IllegalArgumentException](Materialize.view(session.range(3).toDF()))
    assert(e.getMessage.contains("'locall'"), e.getMessage)
  }
}

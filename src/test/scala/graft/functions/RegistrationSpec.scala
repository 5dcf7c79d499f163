package graft.functions

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** `GraftFunctions.register` fills each session's function registry once:
  * later calls (every `Tables.apply`, every operator) leave it alone,
  * while a session with a registry of its own still gets the functions.
  */
class RegistrationSpec extends SparkSpec {

  test("a fresh session resolves the native functions through Tables.apply") {
    val fresh = spark.newSession()
    val docs = Tables(fresh, sf, "documents")
    val sigs = docs.select(GraftFunctions.minhashSig(
      GraftFunctions.ngramHashes(split(col("text"), " "), 3), 8).as("sig"))
      .collect()
    assert(sigs.nonEmpty && sigs.forall(_.getSeq[Long](0).size == 8))
  }

  test("a registry already populated is not registered again") {
    val fresh = spark.newSession()
    GraftFunctions.register(fresh)
    val registry = fresh.sessionState.functionRegistry
    val simhash = FunctionIdentifier("simhash64")
    assert(registry.functionExists(simhash))
    registry.dropFunction(simhash)
    GraftFunctions.register(fresh)
    assert(!registry.functionExists(simhash), "register replaced a function it had registered")
  }
}

package graft.queries

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Batch ≡ stream for every stateless face ([[StreamingQueries.faces]]):
  * the stream gate, drained through the harness, returns the same rows
  * as its batch gate, as multisets (`exceptAll` both ways). The stream
  * gate's oracle is the batch gate's, so this is the property that
  * sharing rests on, checked without the oracle. */
class StreamFacesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  for ((name, batch, _) <- StreamingQueries.faces) {
    test(s"$name returns ${batch.name}'s rows") {
      val stream = StreamingQueries.all.find(_.name == name).get.fn(spark, sf)
      val expected = batch.fn(spark, sf)
      assert(stream.columns.sorted.toSeq === expected.columns.sorted.toSeq)
      val aligned = expected.select(stream.columns.map(col).toSeq: _*)
      assert(aligned.count() > 0, s"${batch.name} is empty on $sf")
      assert(stream.exceptAll(aligned).isEmpty, s"$name has rows ${batch.name} lacks")
      assert(aligned.exceptAll(stream).isEmpty, s"${batch.name} has rows $name lacks")
    }
  }
}

package graft

import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The JSON writer of the mains (Bench's records, Verify's oracle SQL):
  * Spark's bundled Jackson with its Scala module, so maps and sequences
  * serialize directly and strings are escaped to the JSON spec. A map
  * keeps its iteration order; a `ListMap` fixes the key order. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN).build()

  def write(v: Any): String = mapper.writeValueAsString(v)

  /** `x` as a JSON number with exactly `places` decimals, rounded as
    * `f"%.3f"` rounds (half up on the shortest decimal form of `x`). */
  def fixed(x: Double, places: Int): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(places, java.math.RoundingMode.HALF_UP)
}

package perfbench

import java.util.Locale
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import org.scalatest.funsuite.AnyFunSuite

class TextSpec extends AnyFunSuite {

  /** Runs `f` with a comma-decimal default locale. */
  private def underGerman[T](f: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try f finally Locale.setDefault(saved)
  }

  test("numbers keep a decimal point under a comma-decimal default locale") {
    underGerman {
      assert(String.format("%.3f", Double.box(1.5)) == "1,500") // the hazard
      assert(Text.fmt("%.3f s", 1.5) == "1.500 s")
      // the result files the harness writes
      assert(Serialization.write(Map("x" -> 1.5, "y" -> 1e-7, "n" -> 3L))(DefaultFormats) ==
        """{"x":1.5,"y":1.0E-7,"n":3}""")
    }
  }

  test("metric names are checked") {
    assert(Text.checkName("spark.shuffle_read_bytes") == "spark.shuffle_read_bytes")
    intercept[IllegalArgumentException](Text.checkName("bad name"))
    intercept[IllegalArgumentException](Text.checkName("p50,s"))
  }

  test("covered() unions overlapping intervals inside the window") {
    assert(Tracer.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), (2L, 35L)) == 23L)
    assert(Tracer.covered(Nil, (0L, 5L)) == 0L)
  }
}

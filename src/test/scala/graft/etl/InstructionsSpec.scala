package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.SparkSpec

/** S9 output parity: the emitted instructions file must byte-match the
  * generator string in the reference source (the reference repo's
  * committed copy of the file is empty, so the string literal between the
  * triple quotes at src/etl_functions.py:461-548 is the ground truth).
  */
class InstructionsSpec extends SparkSpec {

  test("power_bi_instructions.md byte-matches the reference generator string") {
    val src = new String(
      Files.readAllBytes(Paths.get("/root/reference/src/etl_functions.py")),
      StandardCharsets.UTF_8)
    val marker = "instructions = \"\"\""
    val start = src.indexOf(marker)
    assume(start >= 0, "reference generator string not found — layout changed?")
    val body = src.substring(start + marker.length)
    val expected = body.substring(0, body.indexOf("\"\"\""))

    val tmp = tempDir()
    Instructions.write(tmp)
    val got = new String(
      Files.readAllBytes(Paths.get(tmp, "reports", "dashboard", "power_bi_instructions.md")),
      StandardCharsets.UTF_8)
    assert(got == expected, {
      val firstDiff = got.zip(expected).indexWhere { case (a, b) => a != b }
      s"mismatch at char $firstDiff (got len ${got.length}, expected len ${expected.length}): " +
        s"...${expected.slice(firstDiff - 30, firstDiff + 30)}... vs " +
        s"...${got.slice(firstDiff - 30, firstDiff + 30)}..."
    })
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The --stage front-end must resolve to EXACTLY the positional slot
  * arrays the BASELINE addenda recorded — a named receipt re-run and
  * its historical positional command must hit the same stage with the
  * same size. */
class ScaleBenchArgsSpec extends AnyFunSuite {

  private def positional(slots: (Int, String)*): Array[String] = {
    val m = slots.toMap
    val maxSlot = m.keys.max
    (0 to maxSlot).map {
      case 0 => m.getOrElse(0, "10")
      case 1 => m.getOrElse(1, "10")
      case 2 => m.getOrElse(2, "32")
      case i => m.getOrElse(i, "0")
    }.toArray
  }

  test("positional commands pass through untouched") {
    val raw = Array("10", "10", "32", "0", "0", "500")
    assert(ScaleBench.resolveArgs(raw) eq raw)
  }

  test("arg-46 decade receipt: --stage=lex-serve n=10000000") {
    assert(ScaleBench.resolveArgs(
      Array("--stage=lex-serve", "n=10000000")).toSeq ==
      positional(46 -> "10000000").toSeq)
  }

  test("arg-49/50/51 decade receipts by name") {
    assert(ScaleBench.resolveArgs(
      Array("--stage=minhash-decade", "n=10000000")).toSeq ==
      positional(49 -> "10000000").toSeq)
    assert(ScaleBench.resolveArgs(
      Array("--stage=takedown-decade", "n=10000000")).toSeq ==
      positional(50 -> "10000000").toSeq)
    assert(ScaleBench.resolveArgs(
      Array("--stage=minhash-takedown-decade", "n=10000000")).toSeq ==
      positional(51 -> "10000000").toSeq)
  }

  test("multiple stages compose one run (the arg-27/28 pairing)") {
    assert(ScaleBench.resolveArgs(
      Array("--stage=large-k", "n=1000000",
        "--stage=sem-mega-group", "n=2000000")).toSeq ==
      positional(27 -> "1000000", 28 -> "2000000").toSeq)
  }

  test("quant prefix overrides") {
    assert(ScaleBench.resolveArgs(
      Array("--stage=dedup-ann", "n=500", "cores=8")).toSeq ==
      positional(2 -> "8", 5 -> "500").toSeq)
  }

  test("unknown stage and missing n fail loudly") {
    intercept[IllegalArgumentException] {
      ScaleBench.resolveArgs(Array("--stage=nope", "n=1"))
    }
    intercept[IllegalArgumentException] {
      ScaleBench.resolveArgs(Array("--stage=lex-serve"))
    }
    intercept[IllegalArgumentException] {
      ScaleBench.resolveArgs(Array("n=5", "--stage=lex-serve"))
    }
  }

  test("live slots named, retired slots rejected") {
    val retired = ScaleBench.RetiredSlots.keySet
    assert(retired == Set(23, 24, 25, 26, 41))
    // every live slot 3..51 has exactly one name; retired slots none
    assert(ScaleBench.StageSlots.values.toSeq.sorted ==
      (3 to 51).filterNot(retired).toSeq)
    // a retired name, or a non-zero positional value at a retired slot,
    // fails loudly and points at the final receipt
    ScaleBench.RetiredSlots.foreach { case (slot, (name, section)) =>
      assert(!ScaleBench.StageSlots.contains(name))
      val byName = intercept[IllegalArgumentException] {
        ScaleBench.resolveArgs(Array(s"--stage=$name", "n=1000"))
      }
      assert(byName.getMessage.contains(section), byName.getMessage)
      val byPos = intercept[IllegalArgumentException] {
        ScaleBench.resolveArgs(positional(slot -> "1000"))
      }
      assert(byPos.getMessage.contains(s"BASELINE.md \"$section\""),
        byPos.getMessage)
    }
    // zeros at retired slots (every historical positional command for a
    // live stage) still pass through untouched
    val live = positional(42 -> "500")
    assert(ScaleBench.resolveArgs(live) eq live)
  }
}

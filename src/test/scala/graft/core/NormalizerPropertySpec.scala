package graft.core

import graft.core.assemble.TextAssembler._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property-style tests with seeded sampling (no scalatestplus bridge in
  * the offline cache; 2000 seeded samples give the same confidence here). */
class NormalizerPropertySpec extends AnyFunSuite {

  private val alphabet: Array[Char] = Array(
    '­', '​', '‌', '‍', '﻿', // stripped chars
    'ﬀ', 'ﬁ', 'ﬂ', 'ﬃ', 'ﬄ', // ligatures
    ' ', ' ', ' ', // nbsp family
    ' ', '\t', '\n', '\r', 'a', 'b', 'Z', '9', 'é', 'ש', '.', 'f', 'i')

  private def sample(rng: Random): String = {
    val n = rng.nextInt(60)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      sb += (if (rng.nextInt(5) == 0) rng.nextPrintableChar()
             else alphabet(rng.nextInt(alphabet.length)))
      i += 1
    }
    sb.toString
  }

  test("fused normalizeBlock == collapseWhitespace ∘ normalizeChars (2000 samples)") {
    val rng = new Random(4242)
    (1 to 2000).foreach { k =>
      val s = sample(rng)
      assert(normalizeBlock(s) == collapseWhitespace(normalizeChars(s)),
        s"sample $k: ${s.map(_.toInt.toHexString).mkString(",")}")
    }
  }

  test("normalizeBlock idempotent (2000 samples)") {
    val rng = new Random(77)
    (1 to 2000).foreach { _ =>
      val once = normalizeBlock(sample(rng))
      assert(normalizeBlock(once) == once)
    }
  }

  test("assemble span invariants for arbitrary block lists (500 samples)") {
    val rng = new Random(99)
    (1 to 500).foreach { _ =>
      val blocks = (0 to rng.nextInt(8)).map { _ =>
        (("x" + sample(rng).filter(!_.isWhitespace)) -> "content")
      }
      val (t, spans) = assemble(blocks)
      assert(Spans.invariantsHold(spans, t.length))
      spans.zip(blocks).foreach { case (s, (b, _)) =>
        assert(t.substring(s.begin, s.end) == b)
      }
    }
  }

  test("assembleBlocks == assemble over normalizeBlock (+ bidiVisual for RTL), empties dropped (2000 samples)") {
    val rng = new Random(2718)
    val cfg = ExtractorConfig.default
    val kinds = Array(BlockKind.Content, BlockKind.Heading, BlockKind.List)
    (1 to 2000).foreach { k =>
      val lang = if (rng.nextInt(4) == 0) "he" else "en"
      val blocks = (0 until rng.nextInt(8)).map { _ =>
        Block(sample(rng), 1, 0, "p", 1, false, false, false) -> kinds(rng.nextInt(kinds.length))
      }
      val reference = assemble(blocks.map { case (b, kind) =>
        val norm = normalizeBlock(b.text)
        (if (lang == "he") bidiVisual(norm, rtlBase = true) else norm, kind)
      }.filter(_._1.nonEmpty))
      assert(assembleBlocks(blocks, cfg, lang) == reference, s"sample $k ($lang)")
    }
  }
}

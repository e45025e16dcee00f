package graft.core

import graft.fixtures.{BoilerCorpus, FixtureGen}
import java.io.DataOutputStream
import java.security.{DigestOutputStream, MessageDigest}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Byte identity of the extraction kernel over a fixed input set: one
  * SHA-256 over every field `Extractor.extract` returns and every
  * `Extractor.diagnostics` row (tag paths included).
  *
  * `FixtureCheck` compares the kernel against an answer key that is itself
  * built with the assembler's functions, so it cannot see an assembly
  * regression; this digest can. The expected value is the output of the
  * kernel before its fast paths (flat tag table, run-free word counting,
  * one-buffer assembly, byte charset sniff); a new value is a change of
  * output. */
class KernelDigestSpec extends AnyFunSuite {

  private val Expected = "270f8d063bb5d49aaf2fb5afc5d85b579122adeb5b808dc23cd762737fee7672"

  private def inputs: Iterator[(String, Array[Byte], String)] = {
    val fixtures = Iterator.range(0, 20000).map { i =>
      val f = FixtureGen.fixtureAt(42L, i.toLong)
      (f.url, f.html, f.lang)
    }
    val boiler = Iterator.range(0, 500).flatMap { i =>
      val raw = BoilerCorpus.docAt(42L, i.toLong)._1
      val html = raw.split('\n').mkString("<html><body><p>", "</p><p>", "</p></body></html>")
      Iterator(
        (s"boiler:raw/$i", raw.getBytes("UTF-8"), "en"),
        (s"boiler:html/$i", html.getBytes("UTF-8"), "en"))
    }
    val rng = new Random(20260816L)
    val fuzz = Iterator.range(0, 10000).map { k =>
      (s"fuzz/$k", FuzzInputs.fuzzDoc(rng), if (k % 2 == 0) "en" else "he")
    }
    val pathological = FuzzInputs.pathological.iterator.zipWithIndex.map { case (doc, k) =>
      (s"pathological/$k", doc.getBytes("UTF-8"), "en")
    }
    fixtures ++ boiler ++ fuzz ++ pathological
  }

  private def digest(): (String, Int) = {
    val md = MessageDigest.getInstance("SHA-256")
    val out = new DataOutputStream(new DigestOutputStream(java.io.OutputStream.nullOutputStream(), md))
    // UTF-16 code units, length-prefixed: lone surrogates hash as themselves
    def str(s: String): Unit =
      if (s == null) out.writeInt(-1) else { out.writeInt(s.length); out.writeChars(s) }
    var n = 0
    inputs.foreach { case (url, bytes, lang) =>
      val r = Extractor.default.extract(url, bytes, lang)
      str(r.url); str(r.text); str(r.failure); str(r.lang)
      out.writeInt(r.n_blocks); out.writeInt(r.n_chars); out.writeLong(r.n_bytes_in)
      out.writeInt(r.spans.length)
      r.spans.foreach { s => out.writeInt(s.begin); out.writeInt(s.end); str(s.kind) }
      val diags = Extractor.default.diagnostics(url, bytes, lang)
      out.writeInt(diags.length)
      diags.foreach { d =>
        str(d.url); out.writeInt(d.block_id); str(d.label); out.writeBoolean(d.kept)
        out.writeInt(d.words); out.writeInt(d.link_words); str(d.tag_path); out.writeInt(d.depth)
      }
      n += 1
    }
    out.flush()
    (md.digest().map(b => f"${b & 0xFF}%02x").mkString, n)
  }

  test("extract + diagnostics digest over fixtures, BoilerCorpus and fuzz inputs is unchanged") {
    val (got, n) = digest()
    assert(n == 20000 + 1000 + 10000 + FuzzInputs.pathological.length)
    assert(got == Expected, s"kernel output digest changed: got $got")
  }
}

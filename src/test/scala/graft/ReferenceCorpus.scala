package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Specs that replay the reference's read-only test corpus. */
trait ReferenceCorpus { this: AnyFunSuite =>

  /** Directory holding the corpus. */
  protected def corpus: String

  /** A test that reads the corpus. It first fails with one line naming the
    * directory when the corpus is missing, instead of a stack trace from
    * its first read; the test still runs and counts as failed. */
  protected def corpusTest(name: String)(body: => Any)(
      implicit pos: org.scalactic.source.Position): Unit =
    test(name) {
      if (!Files.isDirectory(Paths.get(corpus)))
        fail(s"reference test corpus missing: $corpus")
      body
    }
}

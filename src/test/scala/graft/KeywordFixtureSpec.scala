package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.KeywordFlags

/** The 19 trigger-word flag regexes evaluated against the reference's
  * own trigger-sentence fixture
  * (test-data/flag_keywords_test_sentences.txt) — the corpus the
  * reference ships for exactly this purpose (its own
  * test_mod_keywordflags.py stops at config assertions, so the fixture
  * is the stronger oracle). Every sentence line must fire at least one
  * flag, and each of the 19 flags must fire for at least one line —
  * i.e. the transcription has no dead flags and no uncovered fixture
  * sentences.
  */
class KeywordFixtureSpec extends AnyFunSuite {

  private def sentences: Seq[String] = {
    val lines = scala.io.Source.fromFile(
      Fixtures.file("flag_keywords_test_sentences.txt"))
    // drop the header, dividers, and the few '|'-bearing lines — those
    // are raw keyword-list fragments, not test sentences
    try lines.getLines().toList.map(_.trim).filter(l =>
      l.nonEmpty && !l.startsWith("Test Strings") &&
        !l.forall(_ == '-') && !l.contains("|"))
    finally lines.close()
  }

  test("every fixture sentence fires ≥1 flag and every flag fires " +
      "(mod_keywordflags.py:57-91 regexes, re.search over lowercase)") {
    val regs = KeywordFlags.flagRegexes.map { case (n, r) =>
      n -> java.util.regex.Pattern.compile(r)
    }
    val hits = sentences.map { s =>
      val low = s.toLowerCase
      s -> regs.filter(_._2.matcher(low).find()).map(_._1)
    }
    val misses = hits.filter(_._2.isEmpty).map(_._1)
    assert(misses.isEmpty,
      s"${misses.size} fixture sentences fire no flag:\n" +
        misses.take(10).mkString("\n"))
    val fired = hits.flatMap(_._2).toSet
    val dead = KeywordFlags.flagRegexes.map(_._1).filterNot(fired)
    assert(dead.isEmpty, s"flags never fired on the fixture: $dead")
  }
}

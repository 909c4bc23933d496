package ssibench

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  test("corpus texts have the fixtures' lengths, vocabulary and duplicates") {
    val n = 5000
    val (texts, nDup) = Inputs.corpusTexts(new SplittableRandom(7), n)
    assert(texts.length == n)
    // 5% of the positions, exactly, as the fixtures' 250 of 5000
    assert(nDup == 250)
    val dups = texts.filter(_.endsWith(" dup"))
    assert(dups.length == nDup)
    val bases = texts.filterNot(_.endsWith(" dup"))
    val words = bases.map(_.split(" "))
    assert(words.forall(w => w.length >= Inputs.MinWords && w.length <= Inputs.MaxWords))
    assert(words.flatten.toSet == Inputs.Vocab.toSet)
    // every duplicate is another document's base text plus " dup"; some
    // of those have since been overwritten themselves, as in the fixtures
    val baseSet = bases.toSet
    assert(dups.count(d => baseSet(d.stripSuffix(" dup"))) > nDup * 9 / 10)
  }

  test("the same seed gives the same corpus") {
    val a = Inputs.corpusTexts(new SplittableRandom(3), 200)
    val b = Inputs.corpusTexts(new SplittableRandom(3), 200)
    assert(a._1.sameElements(b._1) && a._2 == b._2 && a._2 == 10)
  }
}

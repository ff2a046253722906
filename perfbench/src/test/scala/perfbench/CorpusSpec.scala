package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {

  test("the same seed writes the same files and expectations") {
    def gen(seed: Long) = new Corpus(seed).files(1, 3, 500, lateFrom = 2)
    assert(gen(7) == gen(7))
    assert(Expected.of(gen(7)) == Expected.of(gen(7)))
    assert(gen(7).map(_.body) != gen(8).map(_.body))
  }

  test("the corpus carries every line shape the job must handle") {
    val files = new Corpus(3).files(1, 4, 2000, lateFrom = 3)
    val lines = files.flatMap(_.body.split("\n", -1).dropRight(1))
    assert(lines.exists(_.isEmpty), "blank lines")
    assert(lines.exists(_.contains("\"said \"hi\"")), "unescaped inner quotes")
    assert(lines.exists(_.contains("\"_p2\"")), "alias events")
    assert(lines.exists(_.contains("\"updated email\"")), "email updates")
    assert(files.take(2).forall(!_.body.contains("late key")), "late keys absent early")
    assert(files.drop(2).forall(_.body.contains("late key")), "late keys present later")
    assert(files.map(_.events).sum == lines.count(_.nonEmpty))
  }

  test("bridging aliases join people seen in earlier files") {
    val c = new Corpus(11)
    val history = c.files(1, 2, 3000, lateFrom = 1)
    val delta = c.file(3, 50, lateFrom = 1, bridges = 5)
    val seen = history.flatMap(_.edges).flatMap(e => Seq(e._1, e._2)).toSet
    val bridges = delta.edges.take(5)
    assert(bridges.nonEmpty && bridges.forall(e => seen(e._1) && seen(e._2)))
  }

  test("union-find: canonical is the minimum of each component") {
    val uf = new UnionFind
    Seq("d" -> "b", "b" -> "e", "x" -> "y", "c" -> "c", "e" -> "a").foreach { case (a, b) => uf.union(a, b) }
    assert(uf.closure == Map("a" -> "a", "b" -> "a", "d" -> "a", "e" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("union-find orders ids by UTF-8 bytes, not UTF-16 code units") {
    val uf = new UnionFind
    val supplementary = new String(Character.toChars(0x1F600)) // surrogate pair in UTF-16
    val bmpHigh = "Ａ"                                      // above U+D800 in UTF-16
    uf.union(supplementary, bmpHigh)
    assert(uf.closure(supplementary) == bmpHigh)
  }

  test("union-find agrees with a brute-force closure on random graphs") {
    val rnd = new scala.util.Random(5)
    (1 to 20).foreach { _ =>
      val edges = Seq.fill(40)((s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}"))
      val uf = new UnionFind
      edges.foreach { case (a, b) => uf.union(a, b) }
      val nodes = edges.filter(e => e._1 != e._2).flatMap(e => Seq(e._1, e._2)).toSet
      def reach(n: String): Set[String] = {
        var seen = Set(n); var grew = true
        while (grew) {
          val next = seen ++ edges.collect {
            case (a, b) if a != b && seen(a) => b
            case (a, b) if a != b && seen(b) => a
          }
          grew = next.size > seen.size; seen = next
        }
        seen
      }
      assert(uf.closure == nodes.map(n => n -> reach(n).min).toMap)
    }
  }
}

package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives an identical log, another seed a different one") {
    val a = Gen.signalLog(7L, 2000, 300)
    assert(a == Gen.signalLog(7L, 2000, 300))
    assert(a != Gen.signalLog(8L, 2000, 300))
  }

  test("the same seed stages byte-identical files") {
    val d1 = Files.createTempDirectory("gen-a")
    val d2 = Files.createTempDirectory("gen-b")
    try {
      Gen.stage(d1, Gen.signalLog(3L, 1000, 100), 4)
      Gen.stage(d2, Gen.signalLog(3L, 1000, 100), 4)
      val names = Files.list(d1).toArray.map(_.toString.split('/').last).sorted
      assert(names.length == 4)
      names.foreach { n =>
        assert(Files.readAllBytes(d1.resolve(n)).sameElements(Files.readAllBytes(d2.resolve(n))))
      }
    } finally Seq(d1, d2).foreach(Workload.deleteTree)
  }

  test("the log has the production shape: seq order, about 6 % deletes, known keys") {
    val log = Gen.signalLog(11L, 20000, 500)
    assert(log.map(_.seq) == (0L until 20000L))
    val deletes = log.count(_.action == "deleted").toDouble / log.size
    assert(deletes > 0.04 && deletes < 0.08)
    assert(log.map(_.id).toSet.subsetOf((0L until 500L).map(Gen.keyId).toSet))
    assert(log.head.text.startsWith("""{"seq":0,"value":"{\"action\":"""))
  }

  test("landing renames a fully written file into the watched directory") {
    val root = Files.createTempDirectory("gen-land")
    try {
      val staging = Files.createDirectories(root.resolve("staging"))
      val watch = Files.createDirectories(root.resolve("watch"))
      Gen.land(staging, watch, "f.json", Gen.signalLog(1L, 10, 5))
      assert(Files.list(staging).count() == 0)
      assert(Files.readAllLines(watch.resolve("f.json")).size == 10)
    } finally Workload.deleteTree(root)
  }
}

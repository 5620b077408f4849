package graft.plans

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the persisted-store write decisions in one module: outside
  * StoreOps, no program file renames, creates or reads back raw files
  * through the filesystem API.
  */
class StoreOpsSpec extends AnyFunSuite {

  test("only StoreOps renames, creates and reads raw store files") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val owner = root.resolve("graft/plans/StoreOps.scala")
    val banned = Seq(".rename(", "fs.create(", "readAllBytes", "fromInputStream")
    val files = java.nio.file.Files.walk(root)
    val hits =
      try files.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") && p != owner)
        .flatMap { p =>
          val text = java.nio.file.Files.readString(p)
          banned.filter(text.contains).map(b => s"$p: $b")
        }
      finally files.close()
    assert(java.nio.file.Files.exists(owner))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

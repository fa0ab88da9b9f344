package graft.engine

import java.io.File
import java.nio.file.Files

import graft.SparkFunSuite

class ScopedSpec extends SparkFunSuite {

  test("a pooled child starts each borrow from the parent's conf") {
    val pf = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val other = "spark.graft.test.scopedKey"
    val sp = "spark.sql.shuffle.partitions"
    val parent = spark.newSession()
    // a sized TxTable segment write runs in a child with parallelismFirst=false
    val root = Files.createTempDirectory("scoped").toString + "/tbl"
    TxTable.commitOverwrite(parent, root, parent.range(0, 100).toDF("k"))
    val first = Scoped.run(parent, Map(sp -> "3")) { c =>
      assert(c ne parent)
      assert(c.conf.get(pf) === parent.conf.get(pf))
      assert(c.conf.get(sp) === "3", "overrides apply on top of the parent's conf")
      c.conf.set(pf, "false")
      c.conf.set(other, "x")
      c
    }
    parent.conf.set(sp, "7")
    Scoped.run(parent) { c =>
      assert(c eq first, "the child must come back from the pool")
      assert(c.conf.get(pf) === parent.conf.get(pf))
      assert(c.conf.getOption(other) === None)
      assert(c.conf.get(sp) === "7", "a key the parent set after the first borrow")
    }
  }

  test("engine conf is set only in Scoped; no plan moves through a global temp view") {
    def scalaFiles(d: File): Seq[File] =
      Option(d.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    def text(f: File) = Files.readString(f.toPath)
    val engine = new File("src/main/scala/graft/engine")
    assert(engine.isDirectory, s"run from the repository root: ${engine.getAbsolutePath}")
    val setters = scalaFiles(engine).filter(_.getName != "Scoped.scala")
      .filter(f => text(f).contains("conf.set(") || text(f).contains("conf.unset("))
    assert(setters.isEmpty, s"session conf set outside Scoped.scala: ${setters.mkString(", ")}")
    val views = scalaFiles(new File("src/main")).filter(f => text(f).contains("GlobalTempView"))
    assert(views.isEmpty, s"global temp views in ${views.mkString(", ")}")
  }
}

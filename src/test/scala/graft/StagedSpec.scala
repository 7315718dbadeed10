package graft

/** The staged-table registry ([[Staged]]): one slot per build name, keyed
  * by (session identity, key), cleared before every build, freed by one
  * `releaseAll()`. */
class StagedSpec extends SparkSpec {

  test("a failed build leaves the slot empty: the next consumer rebuilds " +
    "instead of reading a freed checkpoint") {
    val q81 = SparkEntry.queries("q81_dedup_clusters")
    def labelBuilds = Staged.stageTimings.getOrElse("cluster_labels_build", Nil).size
    Staged.releaseAll()
    val first = q81(spark, sf).collect().map(_.toString).toSeq
    assert(first.nonEmpty, "q81 found no clusters: the check would be vacuous")
    val builds = labelBuilds
    // a miss on another dir frees the sf0.001 label checkpoint, then fails
    intercept[Throwable] {
      q81(spark, "/nonexistent/staged-spec").collect()
    }
    val again = q81(spark, sf).collect().map(_.toString).toSeq
    assert(again == first, "q81 changed after a failed build in between")
    assert(labelBuilds == builds + 1,
      s"expected one label rebuild, saw ${labelBuilds - builds}")
    Staged.releaseAll()
  }

  test("a hit returns the same object; a new key frees the old entry first") {
    Staged.releaseAll()
    val freed = scala.collection.mutable.ArrayBuffer.empty[String]
    def get(key: String) = Staged.slot[String]("spec_slot", spark, key,
      v => freed += v)(new String(key))
    val a = get("a")
    assert(get("a") eq a, "a hit must return the staged object itself")
    assert(freed.isEmpty)
    val b = get("b")
    assert(freed.toSeq == Seq("a") && Staged.live == Seq("spec_slot"))
    assert(get("b") eq b)
    // a build that throws leaves nothing behind: "b" is freed, not kept
    intercept[IllegalStateException] {
      Staged.slot[String]("spec_slot", spark, "c", v => freed += v)(
        throw new IllegalStateException("build failed"))
    }
    assert(freed.toSeq == Seq("a", "b") && Staged.live.isEmpty)
    Staged.releaseAll()
  }

  test("releaseAll frees every slot, dependents first, past a throwing free") {
    Staged.releaseAll()
    val freed = scala.collection.mutable.ArrayBuffer.empty[String]
    Staged.slot[String]("spec_parent", spark, "k", freed += _)("parent")
    Staged.slot[String]("spec_bad", spark, "k",
      _ => throw new IllegalStateException("free failed"))("bad")
    Staged.slot[String]("spec_child", spark, "k", freed += _)("child")
    Staged.releaseAll()
    assert(freed.toSeq == Seq("child", "parent"))
    assert(Staged.live.isEmpty)
  }

  test("nested builds record exclusive time under their own names") {
    Staged.releaseAll()
    def n(name: String) = Staged.stageTimings.getOrElse(name, Nil).size
    val (o0, i0) = (n("spec_outer"), n("spec_inner"))
    Staged.slot[Int]("spec_outer", spark, "k", _ => ()) {
      Staged.slot[Int]("spec_inner", spark, "k", _ => ()) { Thread.sleep(200); 1 }
    }
    assert(n("spec_outer") == o0 + 1 && n("spec_inner") == i0 + 1)
    assert(Staged.buildStageTotals.contains("spec_outer"))
    val outer = Staged.stageTimings("spec_outer").last
    assert(outer < 0.15, s"outer build was charged its child's time: $outer s")
    Staged.releaseAll()
  }

  test("no second staged-table mechanism: only Staged.scala holds " +
    "(session, key) slots") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at $root")
    val optionSlot =
      """var\s+\w+\s*:\s*Option\[\(\s*(org\.apache\.spark\.sql\.)?SparkSession""".r
    val walk = java.nio.file.Files.walk(root)
    val sources = try walk.iterator().asScala.filter { f =>
      f.toString.endsWith(".scala") && f.getFileName.toString != "Staged.scala"
    }.toList finally walk.close()
    assert(sources.size > 20, s"scanned only ${sources.size} source files")
    val offenders = sources.filter { f =>
      val src = java.nio.file.Files.readString(f)
      optionSlot.findFirstIn(src).isDefined || src.contains("(sess eq s)")
    }
    assert(offenders.isEmpty,
      s"hand-rolled staged cache outside graft.Staged: ${offenders.mkString(", ")}")
  }
}

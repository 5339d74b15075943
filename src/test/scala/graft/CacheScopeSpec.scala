package graft

import graft.SparkTestSession.{poll, rddsWithBlocks}
import graft.io.CacheScope
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** CacheScope owns every cached and checkpointed intermediate: a scope
  * frees what it took, only what it took, on every exit path.
  */
class CacheScopeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def frame(n: Int): DataFrame = spark.range(0, n, 1, 4).toDF("id")

  /** RDD ids that came to hold blocks since `before`, once `n` of them do. */
  private def taken(before: Set[Int], n: Int): Set[Int] =
    poll(rddsWithBlocks() -- before)(_.size == n)

  private def gone(ids: Set[Int]): Boolean =
    poll(rddsWithBlocks() intersect ids)(_.isEmpty).isEmpty

  test("a cached and a checkpointed frame hold no blocks after their scope") {
    val before = rddsWithBlocks()
    val (held, ids) = CacheScope {
      val c = CacheScope.cache(frame(1000))
      c.count()
      val k = CacheScope.checkpoint(frame(2000))
      (Seq(c, k), taken(before, 2))
    }
    assert(ids.size == 2, s"a cache and a checkpoint hold blocks in the scope: $ids")
    assert(gone(ids), s"still holding blocks: ${rddsWithBlocks() intersect ids}")
    assert(held.head.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the cached frame must leave the CacheManager")
  }

  test("a nested scope releases only its own frames") {
    val before = rddsWithBlocks()
    val outerIds = CacheScope {
      val outer = CacheScope.cache(frame(1000))
      outer.count()
      val outerIds = taken(before, 1)
      val innerIds = CacheScope {
        CacheScope.checkpoint(frame(3000))
        taken(before ++ outerIds, 1)
      }
      assert(outerIds.size == 1 && innerIds.size == 1)
      assert(gone(innerIds), "the inner scope must free its checkpoint")
      assert((rddsWithBlocks() intersect outerIds) == outerIds,
        "the inner scope must leave the outer scope's cache alone")
      assert(outer.count() == 1000)
      outerIds
    }
    assert(gone(outerIds), "the outer scope must free its cache")
  }

  test("a scope releases its frames when its body throws") {
    val before = rddsWithBlocks()
    var ids = Set.empty[Int]
    intercept[IllegalStateException] {
      CacheScope {
        CacheScope.cache(frame(1000)).count()
        CacheScope.checkpoint(frame(2000))
        ids = taken(before, 2)
        throw new IllegalStateException("boom")
      }
    }
    assert(ids.size == 2)
    assert(gone(ids), s"still holding blocks: ${rddsWithBlocks() intersect ids}")
  }

  test("two threads' scopes never release each other's frames") {
    val before = rddsWithBlocks()
    val aTook = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    @volatile var aIds = Set.empty[Int]
    @volatile var aHeldAfterB = Set.empty[Int]
    val a = new Thread(() => CacheScope {
      CacheScope.cache(frame(1000)).count()
      aIds = taken(before, 1)
      aTook.countDown()
      bDone.await(60, TimeUnit.SECONDS)
      aHeldAfterB = rddsWithBlocks() intersect aIds
    })
    a.start()
    assert(aTook.await(60, TimeUnit.SECONDS))
    val bIds = CacheScope {
      CacheScope.checkpoint(frame(2000))
      taken(before ++ aIds, 1)
    }
    val bGone = gone(bIds)
    bDone.countDown()
    a.join(60000)
    assert(aIds.size == 1 && bIds.size == 1)
    assert(bGone, "thread b's scope must free its own checkpoint")
    assert(aHeldAfterB == aIds, "thread b's scope must not free thread a's cache")
    assert(gone(aIds), "thread a's scope must free its cache")
  }

  test("persist, localCheckpoint and unpersist appear only in CacheScope") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val call = """\.persist\(|localCheckpoint\(|unpersist\(""".r
    val hits = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "CacheScope.scala")
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).nonEmpty => s"$p:${i + 1}"
      }).toList
    assert(hits.isEmpty, s"route these through graft.io.CacheScope: $hits")
  }
}

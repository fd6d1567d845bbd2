package graft.util

import org.scalatest.funsuite.AnyFunSuite

import java.util.UUID
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

/** Pins the correlation-id generator: ids drawn concurrently on many
  * threads never collide and always carry the v4 version and IETF
  * variant bits.
  */
class UtilSpec extends AnyFunSuite {

  test("fastRandomUuid: 8 threads x 10k ids are distinct v4 UUIDs") {
    val pool = Executors.newFixedThreadPool(8)
    val ids =
      try pool.invokeAll((1 to 8).map(_ => new Callable[Seq[String]] {
          def call(): Seq[String] = Seq.fill(10000)(Util.fastRandomUuid())
        }).asJava).asScala.flatMap(_.get(60, TimeUnit.SECONDS)).toSeq
      finally pool.shutdownNow()
    assert(ids.size == 80000)
    assert(ids.distinct.size == ids.size, "duplicate correlation ids")
    ids.foreach { s =>
      val u = UUID.fromString(s)
      assert(u.version == 4, s)
      assert(u.variant == 2, s)
      assert(u.toString == s)
    }
  }
}

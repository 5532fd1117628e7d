package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The chunked lane map `graft.Bench` prints for bounded stdout tails,
  * and where it copies the full line.
  */
class BenchSpec extends AnyFunSuite {

  test("lane parts fit 2 KB each and parse back to the lane map, each lane once") {
    // 60-character names; values exact at three decimals, one failed lane
    val lanes = (0 until 128).map { i =>
      val name = f"lane_$i%03d_" + ("x" * 51)
      name -> (if (i == 7) -1.0 else i + 0.25)
    }
    assert(lanes.forall(_._1.length == 60))
    val parts = Bench.laneParts(lanes)
    assert(parts.size > 1)
    parts.foreach(p => assert(p.getBytes(UTF_8).length <= 2048, s"part over 2 KB: ${p.length}"))

    val mapper = new ObjectMapper()
    val nodes = parts.map(mapper.readTree)
    assert(nodes.map(_.get("metric").asText).distinct == Seq("lanes"))
    assert(nodes.map(_.get("part").asInt) == (1 to parts.size))
    assert(nodes.forall(_.get("parts").asInt == parts.size))
    val parsed = nodes.flatMap(_.get("queries").properties.asScala.map(e => e.getKey -> e.getValue.asDouble))
    assert(parsed.map(_._1).distinct.size == parsed.size, "a lane appears in two parts")
    assert(parsed.toMap == lanes.toMap)
  }

  test("a subset run writes no bench file unless one is named") {
    assert(Bench.benchFile(None, None).contains("BENCH_LAST.json"))
    assert(Bench.benchFile(Some(Set("ann_topk_brute")), None).isEmpty)
    assert(Bench.benchFile(Some(Set("ann_topk_brute")), Some("/x/b.json")).contains("/x/b.json"))
  }
}

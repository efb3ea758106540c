package graft.ner

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[BertEncoder]] to an oracle that does not come from this code:
  * `tools/golden_oracle.py`, a float64 numpy forward pass over the committed
  * golden fixture with its constants taken from the reference semantics
  * (LayerNorm eps 1e-5, tanh GELU, 1/sqrt(d_head) attention scale,
  * positions counted within the document, token type 0). Its logits for
  * four fixed token-id sequences, one at the fixture's 16-token cap, and
  * each token's argmax label, are committed beside the fixture (a token
  * whose top two oracle logits are closer than 1e-3 carries no label).
  *
  * The fixture's weights sit on a 1/16 (Q4_0: 1/64) grid, so its F16 and
  * Q4_0 tensors decode exactly and the only difference from the oracle is
  * F32 arithmetic. [[Tolerance]] bounds it: the largest difference seen is
  * about 5e-6 (SIMD and scalar kernels) on logits of magnitude up to ~7,
  * while a LayerNorm eps of 1e-12 moves some logit by ~1.4e-4 and a
  * 1/d_head attention scale by ~7e-3.
  */
class GoldenOracleSpec extends AnyFunSuite {
  import GoldenOracleSpec.Case

  /** Largest allowed |encoder - oracle| per logit. */
  private val Tolerance = 2e-5

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/ner/$name")
    assert(in != null, s"$name missing from test resources")
    try in.readAllBytes() finally in.close()
  }

  private val cases: Seq[Case] = {
    val lines = new String(resource("golden_oracle_logits.txt"), "UTF-8")
      .split("\n").filterNot(l => l.startsWith("#") || l.isEmpty).toSeq
    def parse(ls: Seq[String]): List[Case] =
      ls match {
        case Seq() => Nil
        case head +: rest =>
          val ids = head.stripPrefix("ids:").trim.split(" ").map(_.toInt)
          val (rows, after) = rest.splitAt(ids.length)
          val labels = after.headOption.filter(_.startsWith("labels:"))
          assert(labels.isDefined, s"labels line missing after $head")
          Case(ids, rows.map(_.split(" ").map(_.toDouble)).toArray,
            labels.get.stripPrefix("labels:").trim.split(" ").map(_.toIntOption)) ::
            parse(after.tail)
      }
    parse(lines)
  }

  private val golden: NerModel =
    ModelFormat.loadBytes(resource("golden_converter_model.bin")).get

  /** Every tensor widened to F32, written and loaded back through
    * [[ModelFormat]]. */
  private lazy val goldenF32: NerModel = {
    val p = Files.createTempDirectory("graft-oracle").resolve("f32.bin").toString
    ModelFormat.write(golden.copy(tensors = golden.tensors.map {
      case (n, t) => n -> NerTensor(t.dims, t.data)
    }), p)
    ModelFormat.loadFile(p).get
  }

  private def checkAgainstOracle(model: NerModel): Unit = {
    val enc = new BertEncoder(model)
    val nLabels = model.hparams.nLabels
    var worst = 0.0
    assert(cases.length == 4 && cases.exists(_.ids.length == model.hparams.nMaxTokens))
    cases.foreach { case Case(ids, want, labels) =>
      val got = enc.eval(ids)
      assert(got.length == ids.length * nLabels && labels.length == ids.length)
      want.zipWithIndex.foreach { case (row, t) =>
        val rowGot = got.slice(t * nLabels, (t + 1) * nLabels)
        val err = row.indices.map(l => math.abs(rowGot(l) - row(l))).max
        worst = math.max(worst, err)
        assert(err <= Tolerance,
          s"ids ${ids.mkString(",")} token $t: max |diff| $err > $Tolerance")
        labels(t).foreach { label =>
          assert(label == row.indexOf(row.max), s"token $t: label is not the oracle's argmax")
          assert(BioMerge.argmax(rowGot, 0, nLabels) == label,
            s"ids ${ids.mkString(",")} token $t: argmax label differs")
        }
      }
    }
    info(s"largest |encoder - oracle| logit difference: $worst")
  }

  test("the stored F16/F32/Q4_0 fixture matches the float64 oracle") {
    assert(golden.tensors.values.exists(_.isF16) && golden.tensors.values.exists(_.isQ4))
    checkAgainstOracle(golden)
  }

  test("the fixture's all-F32 ModelFormat round trip matches the float64 oracle") {
    assert(goldenF32.tensors.values.forall(t => !t.isF16 && !t.isQ4))
    checkAgainstOracle(goldenF32)
  }
}

object GoldenOracleSpec {
  /** One committed oracle case: token ids, per-token logit rows, and
    * per-token argmax labels (None where the oracle's margin is too thin). */
  final case class Case(ids: Array[Int], rows: Array[Array[Double]],
      labels: Array[Option[Int]])
}

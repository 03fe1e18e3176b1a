package graft

import org.apache.spark.sql.functions._

import graft.operators.{LlmOps, TrainingDataOps}

/** Property pins for the per-batch verdict cores the ingest family
  * shares — randomized dup-heavy corpora against brute-force truth.
  * These exist to protect two theorems the MinHash core rests on:
  *  - rep-level candidates (round 10): a group's min member IS its
  *    rep, so the candidate side never needs member expansion;
  *  - the rep-level fold: for a member n of batch group r, the batch
  *    candidates are S = pairs(r) ∪ {r} (the rep matches itself), and
  *    min{c ∈ S : c < n} is min(S) when min(S) < n and empty otherwise,
  *    so one per-rep min over a single candidate join answers every
  *    member.
  * Any future edit that breaks either fold fails here against an
  * implementation-free oracle. */
class VerdictCorePropertySpec extends GraftSpec {

  test("minhashVerdictsFrom == brute-force min-earlier band-pair truth " +
      "on random dup-heavy corpora") {
    import spark.implicits._
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(20260815L)
    (0 until 4).foreach { trial =>
      val groupTexts = Vector.fill(12)(
        Vector.fill(3 + rnd.nextInt(18))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      val rows = (0 until 60).map { i =>
        val t = groupTexts(rnd.nextInt(groupTexts.size))
        val lang = if (rnd.nextBoolean()) "en" else "de"
        (i.toLong, lang, t.length.toLong, t)
      }
      val df = rows.toDF("doc_id", "lang", "n_chars", "text")
      // implementation-free truth: bands are a pure function of the
      // text's distinct tokens; admissibility = same lang, |Δn_chars|
      // ≤ 10, ≥ 1 shared band signature, candidate id < probe id
      val bands = rows.map { case (id, _, _, t) =>
        id -> graft.functions.MinHash
          .bandSignatures(graft.functions.MinHash.sketch(
            t.split(" ").distinct.toSeq)).toSet
      }.toMap
      // 0: empty index (batch side only); 60: empty batch
      Seq(0L, 30L, 60L).foreach { thr =>
        val idx = LlmOps.minhashBandIndex(df.filter($"doc_id" < thr))
        val got = LlmOps
          .minhashVerdictsFrom(df.filter($"doc_id" >= thr), idx)
          .collect().map(r => r.getLong(0) ->
            (r.getString(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
          .toMap
        assert(got.keySet == rows.map(_._1).filter(_ >= thr).toSet,
          s"trial $trial thr $thr: not one verdict per batch doc")
        rows.filter(_._1 >= thr).foreach { case (n, lang, nc, _) =>
          val admissible = rows.filter { case (c, cl, cnc, _) =>
            c < n && cl == lang && math.abs(cnc - nc) <= 10 &&
              bands(c).intersect(bands(n)).nonEmpty
          }.map(_._1)
          val expected =
            if (admissible.isEmpty) ("kept", None)
            else ("band_dup", Some(admissible.min))
          assert(got(n) == expected,
            s"trial $trial thr $thr doc $n: got ${got(n)} expected $expected")
        }
      }
    }
  }

  test("embeddingVerdictsCore == brute-force exact/band truth on random " +
      "vector corpora with replicas and near-dups") {
    import spark.implicits._
    graft.functions.CosineSimilarity.register(spark)
    val rnd = new scala.util.Random(20260815L)
    def gauss() = Array.fill(64)(rnd.nextGaussian().toFloat)
    (0 until 3).foreach { trial =>
      val bases = Vector.fill(10)(gauss())
      // pool: bases + exact replicas + tiny perturbations (near-dups
      // with cos ≈ 0.9999 — solidly above the 0.4 threshold) + noise
      val pool = (0 until 40).map { _ =>
        val b = bases(rnd.nextInt(bases.size))
        rnd.nextInt(3) match {
          case 0 => b                                   // exact replica
          case 1 => b.map(x => x + (rnd.nextFloat() - 0.5f) * 1e-3f)
          case 2 => gauss()                             // fresh noise
        }
      }
      val rows = pool.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toSeq) }
      val df = rows.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>")
          .as("embedding"))
      val (bands, bits) = graft.functions.CosineLsh.geometry(rows.size)
      val thr = 20L
      val exReps = {
        // brute reps of the existing side, banded like the stream stages
        val seen = scala.collection.mutable.LinkedHashMap[Seq[Float], Long]()
        rows.filter(_._1 < thr).foreach { case (id, v) =>
          if (!seen.contains(v)) seen(v) = id
        }
        seen.toSeq.map { case (v, id) => (id, v) }
      }
      val repVecsDf = exReps.toDF("vec_id", "embedding")
        .select($"vec_id",
          $"embedding".cast("array<float>").as("embedding"))
      val repBandsDf = exReps.flatMap { case (id, v) =>
        graft.functions.CosineLsh.bandKeys(v, bands, bits).map(id -> _)
      }.toDF("vec_id", "bk")
      val (verdicts, _, _) = TrainingDataOps.embeddingVerdictsCore(
        df.filter($"vec_id" >= thr), repVecsDf, repBandsDf, bands, bits)
      val got = verdicts.collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap

      // implementation-free truth
      def cosR6(a: Seq[Float], b: Seq[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < 64) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val firstOf = scala.collection.mutable.Map[Seq[Float], Long]()
      rows.foreach { case (id, v) => firstOf.getOrElseUpdate(v, id) }
      val reps = rows.filter { case (id, v) => firstOf(v) == id }
      val bkOf = reps.map { case (id, v) =>
        id -> graft.functions.CosineLsh
          .bandKeys(v, bands, bits).toSet
      }.toMap
      rows.filter(_._1 >= thr).foreach { case (n, v) =>
        val expected = if (firstOf(v) != n) ("exact_dup", Some(firstOf(v)))
        else {
          val cands = reps.filter { case (r, rv) =>
            r < n && bkOf(r).intersect(bkOf(n)).nonEmpty &&
              cosR6(rv, v) >= 0.4
          }.map(_._1)
          if (cands.isEmpty) ("kept", None)
          else ("band_dup", Some(cands.min))
        }
        assert(got(n) == expected,
          s"trial $trial vec $n: got ${got(n)} expected $expected")
      }
    }
  }

  test("semanticCellVerdicts == brute-force within-cell keep-order " +
      "truth on random dup-heavy member frames") {
    import spark.implicits._
    graft.functions.CosineSimilarity.register(spark)
    val rnd = new scala.util.Random(20260815L)
    def cosR6(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    (0 until 4).foreach { trial =>
      // 8 distinct direction groups over 3 cells; identical
      // (embedding, cell) members share their c_sim — the rep
      // expansion theorem's premise (in the op, c_sim is a pure
      // function of (embedding, cell)); rows repeat groups heavily so
      // the cell-local exact collapse really fires
      val groups = Vector.fill(8)((
        Array.fill(6)(rnd.nextGaussian().toFloat),
        rnd.nextInt(3).toLong,
        math.rint(rnd.nextDouble() * 1e6) / 1e6))
      val rows = (0 until 50).map { i =>
        val (v, cell, cs) = groups(rnd.nextInt(groups.size))
        (i.toLong, cell, v, cs)
      }
      val got = graft.operators.TrainingDataOps.semanticCellVerdicts(
          rows.toDF("vec_id", "cell", "embedding", "c_sim"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getBoolean(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4)))))
        .toMap
      // implementation-free truth: keep order = (c_sim asc, vec_id)
      // WITHIN the cell; drop iff an order-earlier cell-mate sits
      // within round(cos, 6) >= 0.4; dup_of = the least such id
      rows.foreach { case (id, cell, v, cs) =>
        val preds = rows.filter { case (id2, cell2, v2, cs2) =>
          cell2 == cell && (cs2 < cs || (cs2 == cs && id2 < id)) &&
            cosR6(v2.toSeq, v.toSeq) >= 0.4
        }.map(_._1)
        val expected = (cell, preds.isEmpty,
          if (preds.isEmpty) None else Some(preds.min))
        assert(got(id) == expected,
          s"trial $trial vec $id: got ${got(id)} expected $expected")
      }
      // non-degenerate: the trial must exercise drops, keeps AND
      // repeated identical members
      assert(got.values.exists(!_._2) && got.values.exists(_._2))
      assert(rows.groupBy(r => (r._3.toSeq, r._2)).exists(_._2.size > 1))
    }
  }
}

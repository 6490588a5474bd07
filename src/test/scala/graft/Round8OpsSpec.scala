package graft

import java.math.RoundingMode

/** Round-8 additions: planted-truth / driver-side-recomputation checks
  * for the five new operators (text_entropy, seq_markov, dq_benford,
  * quality_lr_score, embed_knn_block_unscaled) on top of their DuckDB oracles —
  * the oracle proves cross-engine agreement, these prove the shared
  * formula is the INTENDED one.
  */
class Round8OpsSpec extends GraftSpec {

  private def docs: Map[Long, String] =
    Tables.load(spark, sf, "documents").select("doc_id", "text").collect()
      .filter(_.get(1) != null)
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("text_entropy matches a driver-side recomputation on every doc") {
    val texts = docs
    val out = q("text_entropy").collect()
    assert(out.length == texts.size)
    out.foreach { r =>
      val t = texts(r.getLong(0)).toLowerCase
      val counts = ('a' to 'z').map(c => t.count(_ == c).toLong)
      val n = counts.sum
      assert(r.getLong(1) == n, s"letter count mismatch for doc ${r.getLong(0)}")
      val expected =
        if (n == 0) 0.0
        else -counts.filter(_ > 0).map { c =>
          val p = c.toDouble / n
          p * (math.log(p) / math.log(2.0))
        }.sum
      assert(math.abs(r.getDecimal(2).doubleValue() - expected) < 2e-6,
        s"entropy mismatch for doc ${r.getLong(0)}")
      assert(r.getDecimal(2).doubleValue() >= 0.0 &&
        r.getDecimal(2).doubleValue() <= math.log(26.0) / math.log(2.0) + 1e-9)
    }
  }

  test("CharEntropy expression is bit-identical to the 26-replace SQL spelling") {
    val viaExpr = q("text_entropy").collect().map(_.toString).toSeq
    val viaSql = graft.queries.TextQueries.entropyBySql(spark, sf)
      .collect().map(_.toString).toSeq
    assert(viaExpr.nonEmpty && viaExpr == viaSql,
      "the single-pass expression must reproduce the oracle formulation exactly")
  }

  test("seq_markov is row-stochastic and covers exactly events - users transitions") {
    val ev = Tables.load(spark, sf, "events")
    val total = ev.count()
    val users = ev.select("user_id").distinct().count()
    val out = q("seq_markov").collect()
    assert(out.nonEmpty)
    assert(out.map(_.getLong(2)).sum == total - users,
      "transition count must be total events minus one first-event per user")
    out.groupBy(_.getString(0)).foreach { case (prev, rows) =>
      val mass = rows.map(_.getDecimal(3).doubleValue()).sum
      assert(math.abs(mass - 1.0) < 1e-4, s"row $prev not stochastic: $mass")
    }
  }

  test("dq_benford: digits 1-9, observed mass 1, Benford expectations exact") {
    val out = q("dq_benford").collect()
    val digits = out.map(_.getString(0))
    assert(digits.toSet.subsetOf(('1' to '9').map(_.toString).toSet))
    assert(digits.length == digits.toSet.size)
    val filtered = Tables.load(spark, sf, "orders").filter("o_totalprice >= 1").count()
    assert(out.map(_.getLong(1)).sum == filtered)
    assert(math.abs(out.map(_.getDecimal(2).doubleValue()).sum - 1.0) < 1e-4)
    out.foreach { r =>
      val d = r.getString(0).toInt
      assert(math.abs(r.getDecimal(3).doubleValue() - math.log10(1.0 + 1.0 / d)) < 1.5e-6)
    }
  }

  test("quality_lr_score matches a driver-side recomputation; keep == score >= 0.5") {
    val stop = Set("the", "and", "of", "is", "a", "to", "in", "that", "it", "as")
    val texts = docs.filter(_._2.nonEmpty)
    val out = q("quality_lr_score").collect()
    assert(out.length == texts.size)
    var kept = 0
    out.foreach { r =>
      val t = texts(r.getLong(0))
      val words = t.split(" ", -1)
      val wc = words.length
      val stops = words.count(stop)
      val chars = t.length
      val punct = chars - t.replaceAll("[^a-zA-Z0-9 ]", "").length
      assert(r.getLong(1) == wc)
      val logit = -2.0 + 0.02 * wc + 20.0 * (stops.toDouble / wc) -
        10.0 * (punct.toDouble / chars)
      val score = 1.0 / (1.0 + math.exp(-logit))
      assert(math.abs(r.getDecimal(2).doubleValue() - score) < 2e-6,
        s"score mismatch for doc ${r.getLong(0)}")
      assert(r.getBoolean(3) ==
        (r.getDecimal(2).compareTo(new java.math.BigDecimal("0.5")) >= 0))
      if (r.getBoolean(3)) kept += 1
    }
    assert(kept > 0 && kept < out.length, "scorer must split the corpus, not rubber-stamp it")
  }

  test("cluster_kmeans_step reproduces a driver-side Lloyd iteration") {
    val emb = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble), r.getInt(2)))
    val dims = emb.head._2.length
    // label centroids as double means (the K8 seed), then nearest-
    // centroid assignment — safe to replicate in doubles because the
    // corpus's best-vs-second margin dwarfs summation noise.
    val cents = emb.groupBy(_._3).map { case (l, vs) =>
      l -> Array.tabulate(dims)(i => vs.map(_._2(i)).sum / vs.length)
    }
    val assigned = emb.map { case (id, v, _) =>
      val best = cents.toSeq.map { case (cl, c) =>
        (cl, v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.minBy { case (cl, d2) => (d2, cl) }._1
      (id, v, best)
    }
    val expected = assigned.groupBy(_._3).map { case (cl, vs) =>
      cl -> Array.tabulate(dims) { i =>
        val qs = vs.map(t => math.round(t._2(i) * 1e6))
        (qs.sum.toDouble / qs.length / 1e6, qs.length.toLong)
      }
    }
    val out = q("cluster_kmeans_step").collect()
    assert(out.length == expected.size * dims)
    out.foreach { r =>
      val (cl, dim) = (r.getInt(0), r.getLong(1).toInt - 1)
      val (want, n) = expected(cl)(dim)
      assert(r.getLong(2) == n, s"cluster $cl size mismatch")
      assert(math.abs(r.getDecimal(3).doubleValue() - want) < 2e-6,
        s"centroid mismatch at ($cl, $dim)")
    }
    assert(expected.values.map(_.head._2).sum == emb.length,
      "every vector must be assigned to exactly one cluster")
  }

  /** A private sf dir holding only a copy of documents.parquet. */
  private def docsCopy(prefix: String): String = {
    val tmp = scratch(prefix)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "documents.parquet"),
      java.nio.file.Paths.get(tmp, "documents.parquet"))
    tmp
  }

  test("sink caches rebuild when the source table fingerprint changes") {
    val tmp = docsCopy("graft_regen")
    val other = docsCopy("graft_regen_other")
    var builds = 0
    def build(p: String): Unit = {
      builds += 1
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "part-0.parquet"))
    }
    val d1 = Derived.dir("regen_spec", tmp, "documents")(build)
    assert(builds == 1)
    assert(Derived.dir("regen_spec", tmp, "documents")(build) == d1,
      "unchanged fingerprint must reuse the cached export")
    assert(builds == 1)
    val o1 = Derived.dir("regen_spec", other, "documents")(build)
    assert(builds == 2 && o1 != d1, "each sf dir owns its own entry")
    // simulate the driver regenerating testdata mid-JVM
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(tmp, "documents.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    val d2 = Derived.dir("regen_spec", tmp, "documents")(build)
    assert(builds == 3 && d2 != d1,
      "a changed fingerprint must force a rebuild, not serve the stale export")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(d1)),
      "the invalidated export directory must be reclaimed, not leaked")
    // the regen of `tmp` neither rebuilt nor reclaimed `other`'s entry
    assert(Derived.dir("regen_spec", other, "documents")(build) == o1)
    assert(builds == 3)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(o1, "part-0.parquet")))
    assert(Derived.path("regen_spec", other) == o1)
  }

  test("a derived build may look up another derived entry inside its own build") {
    val tmp = docsCopy("graft_nested")
    val outer = Derived.dir("nested_outer", tmp, "documents") { p =>
      val inner = Derived.dir("nested_inner", tmp, "documents") { q =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(q, "v"), "inner")
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p, "v"), inner)
    }
    val inner = Derived.path("nested_inner", tmp)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(outer, "v")) == inner)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(inner, "v")) == "inner")
  }

  test("a derived build that throws publishes nothing and keeps the previous entry") {
    val tmp = docsCopy("graft_failbuild")
    assertThrows[IllegalArgumentException](Derived.path("fail_spec", tmp))
    var partial: String = null
    intercept[IllegalStateException] {
      Derived.dir("fail_spec", tmp, "documents") { p =>
        partial = p
        throw new IllegalStateException("boom")
      }
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(partial)),
      "a failed build's partial directory must be dropped")
    assertThrows[IllegalArgumentException](Derived.path("fail_spec", tmp))
    val good = Derived.dir("fail_spec", tmp, "documents") { p =>
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "ok"))
    }
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(tmp, "documents.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    intercept[IllegalStateException] {
      Derived.dir("fail_spec", tmp, "documents")(_ => throw new IllegalStateException("boom"))
    }
    assert(Derived.path("fail_spec", tmp) == good,
      "a failed rebuild must leave the previous entry servable")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(good, "ok")))
  }

  test("the derived store's root is deleted when its JVM exits") {
    val tmpdir = java.nio.file.Paths.get(scratch("graft_exit_tmp"))
    val sfCopy = docsCopy("graft_exit_sf")
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val proc = new ProcessBuilder(javaBin, s"-Djava.io.tmpdir=$tmpdir",
        "-cp", System.getProperty("java.class.path"),
        "graft.DerivedExitProbe", sfCopy)
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes())
    assert(proc.waitFor() == 0, out)
    assert(out.contains("built " + tmpdir), out)
    assert(out.contains("scratch " + tmpdir), out)
    val left = {
      val st = java.nio.file.Files.list(tmpdir)
      try st.toArray.toSeq finally st.close()
    }
    assert(left.isEmpty, s"the store root outlived its JVM: $left")
    // the tmpfs scratch dir and its per-JVM root are gone too
    val tmpfs = out.linesIterator.collectFirst {
      case l if l.startsWith("tmpfs ") => java.nio.file.Paths.get(l.stripPrefix("tmpfs "))
    }
    assert(tmpfs.isDefined, out)
    assert(!java.nio.file.Files.exists(tmpfs.get.getParent),
      s"the tmpfs scratch root outlived its JVM: ${tmpfs.get.getParent}")
  }

  test("text_decontaminate_bloom is bit-identical to the un-prescreened operator") {
    val plain = q("text_decontaminate").collect().map(_.toString).toSeq
    val bloom = q("text_decontaminate_bloom").collect().map(_.toString).toSeq
    assert(plain.nonEmpty && plain == bloom,
      "the bloom prescreen must be semantically invisible")
  }

  test("embed_knn_block_unscaled: exact top-3 within label, verified brute-force") {
    val emb = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    // replicate ArrayFloatDot exactly: sequential double accumulation
    // of float-widened products, cos = dot / (sqrt(aa) * sqrt(bb)).
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val expected = emb.groupBy(_._3).iterator.flatMap { case (_, block) =>
      block.toSeq.map { case (id, v, _) =>
        val top = block.filter(_._1 != id).map { case (oid, ov, _) =>
          val cos = java.math.BigDecimal
            .valueOf(dot(v, ov) / (math.sqrt(dot(v, v)) * math.sqrt(dot(ov, ov))))
            .setScale(6, RoundingMode.HALF_UP)
          (oid, cos)
        }.sortBy { case (oid, cos) => (cos.negate, oid) }(
          Ordering.Tuple2(Ordering.ordered[java.math.BigDecimal], Ordering.Long))
          .take(3)
        id -> top
      }
    }.toMap
    val rows = q("embed_knn_block_unscaled").collect().groupBy(_.getLong(0))
    assert(rows.size == emb.length)
    rows.foreach { case (src, rs) =>
      val got = rs.sortBy(_.getLong(4)).map(r => (r.getLong(2), r.getDecimal(3)))
      val want = expected(src)
      assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
        s"neighbor set mismatch for $src: got ${got.toSeq}, want $want")
      got.zip(want).foreach { case ((_, g), (_, w)) =>
        assert(math.abs(g.doubleValue() - w.doubleValue()) < 1.5e-6)
      }
    }
  }
}

/** Forked by Round8OpsSpec: builds one derived directory under the
  * JVM's own `java.io.tmpdir`, asks for one scratch directory in each
  * scratch location, prints where, and exits.
  */
object DerivedExitProbe {
  def main(args: Array[String]): Unit = {
    val p = Derived.dir("exit_probe", args(0), "documents") { p =>
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "part-0.parquet"))
    }
    println("built " + p)
    val s = Derived.scratch("graft_exit_scratch")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s, "part-0.parquet"))
    println("scratch " + s)
    val t = Derived.scratch("graft_exit_tmpfs", tmpfs = true)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(t, "part-0.parquet"))
    println("tmpfs " + t)
  }
}

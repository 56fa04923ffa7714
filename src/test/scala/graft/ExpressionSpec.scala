package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{DoubleSqL2, FloatDot}

/** The native float_dot expression: interpreted eval, codegen'd
  * execution, and the higher-order-function formulation must all agree
  * bit-for-bit (that equality is what keeps the DuckDB oracle valid
  * after the perf rewrite).
  */
class ExpressionSpec extends SparkSpec {

  private def lit(a: Array[Float]): Literal =
    Literal(ArrayData.toArrayData(a), ArrayType(FloatType))

  test("interpreted eval matches a plain scala fold") {
    val a = Array(0.25f, -1.5f, 3.0f)
    val b = Array(2.0f, 0.5f, -1.0f)
    val expected = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    assert(FloatDot(lit(a), lit(b)).eval(null) == expected)
  }

  test("codegen'd result equals interpreted eval and zip_with/aggregate on real data") {
    val e = graft.sources.Tables.embeddings(spark, sf).limit(50)
    val both = e.select(
      expr("float_dot(embedding, embedding)").as("native"),
      expr("aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, v) -> acc + v)").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("two float_dot calls in one projection stay codegen'd (fresh locals)") {
    // Round-1 bug: fixed `n`/`acc`/`i` locals made the second call in the
    // same codegen scope fail Janino compilation and silently fall back to
    // interpreted eval. Non-null literal children mean no null-check
    // branches, so both loops land in one scope. Generating the projection
    // directly (no FALLBACK wrapper) turns that compile error into a
    // thrown exception instead of a silent downgrade.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    val d1 = FloatDot(lit(Array(1.0f, 2.0f)), lit(Array(3.0f, 4.0f)))
    val d2 = FloatDot(lit(Array(2.0f)), lit(Array(5.0f)))
    val proj = GenerateUnsafeProjection.generate(Seq(d1, d2))
    val row = proj(InternalRow.empty)
    assert(row.getDouble(0) == 11.0 && row.getDouble(1) == 10.0)
  }

  test("mismatched dimensions yield null (matches zip_with null-padding)") {
    val r = spark.sql(
      "SELECT float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT)))")
      .collect()(0)
    assert(r.isNullAt(0))
  }

  // --- double_sql2: the same discipline as float_dot (r15 verdict task 3
  // — the kernel shipped under every vector key's assignment path with
  // zero direct tests; a codegen-only bug would have surfaced as a
  // confusing cross-engine hash mismatch instead of a unit failure) ---

  private def dlit(a: Array[Double]): Literal =
    Literal(ArrayData.toArrayData(a), ArrayType(DoubleType))

  test("double_sql2 interpreted eval matches a plain scala fold") {
    val a = Array(0.25, -1.5, 3.0)
    val b = Array(2.0, 0.5, -1.0)
    val expected = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
      acc + (x - y) * (x - y)
    }
    assert(DoubleSqL2(dlit(a), dlit(b)).eval(null) == expected)
  }

  test("double_sql2 codegen equals interpreted and the zip_with/aggregate fold on real data") {
    // The doc's exact claim: same left-to-right double accumulation as
    // aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0, +).
    val e = graft.sources.Tables.embeddings(spark, sf).limit(50)
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("va"),
        expr("transform(reverse(embedding), x -> CAST(x AS DOUBLE))").as("vb"))
    val both = e.select(
      expr("double_sql2(va, vb)").as("native"),
      expr("aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)), cast(0 as double), (acc, v) -> acc + v)").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("two double_sql2 calls in one projection stay codegen'd (fresh locals)") {
    // Same round-1 float_dot bug class: fixed `n`/`acc`/`d`/`i` locals
    // would fail Janino on the second call in one scope and silently
    // fall back to interpreted eval.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    val d1 = DoubleSqL2(dlit(Array(1.0, 2.0)), dlit(Array(3.0, 4.0)))
    val d2 = DoubleSqL2(dlit(Array(2.0)), dlit(Array(5.0)))
    val proj = GenerateUnsafeProjection.generate(Seq(d1, d2))
    val row = proj(InternalRow.empty)
    assert(row.getDouble(0) == 8.0 && row.getDouble(1) == 9.0)
  }

  test("double_sql2 mismatched dimensions and null inputs yield null") {
    val mism = spark.sql(
      "SELECT double_sql2(array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)), array(CAST(3.0 AS DOUBLE)))")
      .collect()(0)
    assert(mism.isNullAt(0))
    val nul = spark.sql(
      "SELECT double_sql2(CAST(NULL AS ARRAY<DOUBLE>), array(CAST(1.0 AS DOUBLE)))")
      .collect()(0)
    assert(nul.isNullAt(0))
  }

  test("double_sql2 type mismatch is rejected at analysis") {
    intercept[Exception] {
      // array<float> must NOT silently coerce — the kernel is the
      // double-precision Lloyd path; float inputs indicate a wiring bug.
      spark.sql("SELECT double_sql2(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT double_sql2(array(1, 2), array(3, 4))").collect()
    }
  }

  test("GraftExtensions installs double_sql2 through the real builder path") {
    // GraftSession built the suite session with the extensions; a child
    // session has none of the suite's runtime registrations, so what it
    // resolves comes from the injected extensions alone
    val s2 = spark.newSession()
    val r = s2.sql(
      """SELECT double_sql2(array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)),
        |                   array(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE))) AS d""".stripMargin)
      .collect()(0)
    assert(r.getDouble(0) == 8.0)
    intercept[Exception] { s2.sql("SELECT double_sql2(array(CAST(1.0 AS DOUBLE)))").collect() }
  }

  test("rolling_hash equals the higher-order fold formulation on real docs") {
    val d = graft.sources.Tables.documents(spark, sf).limit(100)
    val both = d.select(
      expr("rolling_hash(text)").as("native"),
      expr("""aggregate(
        |  transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1))),
        |  cast(0 as bigint),
        |  (h, c) -> (h * 31 + c) % 1000000007)""".stripMargin).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    // empty string hashes to 0; codegen and interpreted agree
    assert(graft.functions.RollingHash.hash("") == 0L)
    val r = spark.sql("SELECT rolling_hash('')").collect()(0).getLong(0)
    assert(r == 0L)
  }

  test("null inputs yield null") {
    val r = spark.sql("SELECT float_dot(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))")
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("type mismatch is rejected at analysis") {
    intercept[Exception] {
      spark.sql("SELECT float_dot(array(1, 2), array(3, 4))").collect()
    }
  }

  test("map-only PQ assignment equals the join-form argmin bit-for-bit (r19)") {
    // Index builds assign codewords with the quantizer kernel, and the
    // ADC tables score query rows with it. Both must agree EXACTLY with
    // plain-Scala r6(Σ(a−b)²) summed left to right, the argmin by
    // (dist2, c_id) — any divergence would silently train a different
    // codebook or rank a different neighbor.
    // Deterministic synthetic corpus: 24 vectors × 64 dims, codebook =
    // first 16 vectors' components, 8 subspaces of 8 dims; one more
    // input row per vector checks the one-subspace (IVF) case against
    // the first 4 vectors whole.
    import graft.operators.LlmVector
    import spark.implicits._
    // varied, sign-flipping values with ties broken by c_id order
    val vecs = (0 until 24).map(v => (0 until 64).map(p => math.sin(v * 17 + p * 3) * (1 + (p % 5))))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dist2(x: Seq[Double], cw: Seq[Double]): Double =
      r6(x.zip(cw).foldLeft(0.0) { case (s, (a, b)) => s + (a - b) * (a - b) })
    def argmin(x: Seq[Double], cws: LlmVector.Codewords): Int =
      cws.minBy { case (c, cw) => (dist2(x, cw), c) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))._1
    def kernelForm(model: IndexedSeq[LlmVector.Codewords], rows: Seq[(Long, Int, Seq[Double])]) =
      LlmVector.encodeRows(spark, LlmVector.qrows(rows.toDF("vec_id", "sub", "varr")), model)
        .orderBy("vec_id", "sub").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    val pq = (0 until 8).map(s => (0 until 16).map(c => c -> vecs(c).slice(s * 8, s * 8 + 8).map(r6)))
    val pqRows = for (v <- 0 until 24; s <- 0 until 8) yield (v.toLong, s, vecs(v).slice(s * 8, s * 8 + 8))
    val reference = pqRows.map { case (v, s, x) => (v, s, argmin(x, pq(s))) }
    assert(reference.length == 24 * 8)
    assert(reference.toSeq == kernelForm(pq, pqRows))
    val ivf = Vector((0 until 4).map(c => c -> vecs(c).map(r6)))
    val ivfRows = (0 until 24).map(v => (v.toLong, 0, vecs(v)))
    val ivfReference = ivfRows.map { case (v, s, x) => (v, s, argmin(x, ivf.head)) }
    assert(ivfReference == kernelForm(ivf, ivfRows))
    // ADC tables: one (keys…, sub, dist2, c_id) row per (row, codeword),
    // the key columns carried through — q_id for a raw index, (q_id,
    // cell) for a residual one
    val index = LlmVector.PqIndex(pq, codesDir = "")
    val rawTables = index.tables(pqRows.toDF("q_id", "sub", "varr"))
      .select("q_id", "sub", "dist2", "c_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rawTables == pqRows.flatMap { case (v, s, x) =>
      pq(s).map { case (c, cw) => (v, s, dist2(x, cw), c) } }.toSet)
    val resRows = pqRows.map { case (v, s, x) => (v, (v % 3).toInt, s, x) }
    val resTables = index.tables(resRows.toDF("q_id", "cell", "sub", "varr"))
      .select("q_id", "cell", "sub", "dist2", "c_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3), r.getInt(4))).toSet
    assert(resTables.size == 24 * 8 * 16)
    assert(resTables == resRows.flatMap { case (v, cell, s, x) =>
      pq(s).map { case (c, cw) => (v, cell, s, dist2(x, cw), c) } }.toSet)
  }

  test("Lloyd training skips a null vector like the oracle's AVG, and still encodes it") {
    // A null embedding has no distance to any codeword: it is assigned
    // (to the smallest c_id) but must not count toward that cell's mean,
    // which the oracle takes as ROUND(AVG(v), 6) over non-null values.
    // Components are multiples of 1/16, so every sum is exact and the
    // plain-Scala means below are the kernel's to the bit.
    import graft.operators.LlmVector
    import spark.implicits._
    val vecs = (0 until 24).map(v => (0 until 8).map(p => math.rint(math.sin(v * 17 + p * 3) * 16) / 16))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def nearest(x: Seq[Double], cws: LlmVector.Codewords): Int =
      cws.minBy { case (c, cw) =>
        (r6(x.zip(cw).foldLeft(0.0) { case (s, (a, b)) => s + (a - b) * (a - b) }), c)
      }(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))._1
    // one Lloyd pass over the non-null rows only
    def pass(cws: LlmVector.Codewords): LlmVector.Codewords =
      vecs.groupBy(nearest(_, cws)).toSeq.sortBy(_._1).map { case (c, xs) =>
        c -> xs.transpose.map(comp => r6(comp.sum / xs.size))
      }
    val init: LlmVector.Codewords = (0 until 4).map(c => c -> vecs(c).map(r6))
    val reference = pass(pass(init))
    val rows = (vecs.indices.map(v => (v.toLong, 0, vecs(v))) :+ ((99L, 0, null: Seq[Double])))
      .toDF("vec_id", "sub", "varr")
    val input = LlmVector.qrows(rows)
    val trained = LlmVector.lloyd(input, 4, 2)
    assert(trained == Vector(reference))
    val nullCode = LlmVector.encodeRows(spark, input, trained)
      .filter(col("vec_id") === 99).collect().map(_.getInt(2)).toSeq
    assert(nullCode == Seq(reference.head._1))
  }

  test("GraftExtensions installs float_dot and rolling_hash through the real builder path") {
    val s2 = spark.newSession() // extensions only, as above
    val r = s2.sql(
      """SELECT rolling_hash('abc') AS h,
        |  float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |            array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == graft.functions.RollingHash.hash("abc"))
    assert(r.getDouble(1) == 11.0)
    // arity is enforced, not silently truncated
    intercept[Exception] { s2.sql("SELECT rolling_hash('a', 31)").collect() }
    intercept[Exception] { s2.sql("SELECT rolling_hash()").collect() }
  }
}

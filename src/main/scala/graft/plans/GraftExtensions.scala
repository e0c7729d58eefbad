package graft.plans

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.Bridge

/** Registers the graft native expressions as SQL functions
  * (`graft_cosine`, `graft_minhash`, `graft_simhash`) via
  * SparkSessionExtensions — installable either through
  * `GraftSession.builder()` or with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` on any
  * stock Spark cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (children: Seq[Expression]) => CosineSim(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[L2Sq].getName, "graft_l2sq"),
      (children: Seq[Expression]) => L2Sq(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinHashSig(children(0), children(1) match {
        // accept any integral literal (an INT constant parses as
        // IntegerType but a long literal / typed parameter is BIGINT)
        case Literal(k: Number, _) => k.intValue
        case other => throw new IllegalArgumentException(
          s"graft_minhash(arr, k): k must be an integer literal, got $other")
      })))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_slot_agree"),
      new ExpressionInfo(classOf[SlotAgreement].getName, "graft_slot_agree"),
      (children: Seq[Expression]) => SlotAgreement(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_st_contains"),
      new ExpressionInfo(classOf[StContains].getName, "graft_st_contains"),
      (children: Seq[Expression]) =>
        StContains(children(0), children(1), children(2), children(3))))
    ext.injectFunction((
      FunctionIdentifier("graft_hdr_quantile"),
      new ExpressionInfo(classOf[HdrQuantileAgg].getName, "graft_hdr_quantile"),
      (children: Seq[Expression]) => HdrQuantileAgg(children(0),
        GraftExtensions.numLit(children(1), "graft_hdr_quantile", "q"),
        bits = if (children.length > 2)
          GraftExtensions.numLit(children(2), "graft_hdr_quantile", "bits").toInt
        else 3).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_hdr_quantile_w"),
      new ExpressionInfo(classOf[HdrWeightedQuantileAgg].getName, "graft_hdr_quantile_w"),
      (children: Seq[Expression]) => HdrWeightedQuantileAgg(children(0), children(1),
        GraftExtensions.numLit(children(2), "graft_hdr_quantile_w", "q"),
        bits = if (children.length > 3)
          GraftExtensions.numLit(children(3), "graft_hdr_quantile_w", "bits").toInt
        else 3).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_hdr_quantiles"),
      new ExpressionInfo(classOf[HdrQuantilesAgg].getName, "graft_hdr_quantiles"),
      (children: Seq[Expression]) => HdrQuantilesAgg(children.head,
        children.tail.map {
          case Literal(v: Number, _) => v.doubleValue
          case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
          case other => throw new IllegalArgumentException(
            s"graft_hdr_quantiles(col, q...): quantiles must be numeric literals, got $other")
        }).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_hdr_rank"),
      new ExpressionInfo(classOf[HdrRankAgg].getName, "graft_hdr_rank"),
      (children: Seq[Expression]) => HdrRankAgg(children(0), children(1) match {
        case Literal(v: Number, _) => v.longValue
        case other => throw new IllegalArgumentException(
          s"graft_hdr_rank(col, v): v must be an integer literal, got $other")
      }).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_approx_most_frequent"),
      new ExpressionInfo(classOf[SpaceSavingAgg].getName, "graft_approx_most_frequent"),
      (children: Seq[Expression]) => {
        def intLit(e: Expression, what: String): Int = e match {
          case Literal(v: Number, _) => v.intValue
          case other => throw new IllegalArgumentException(
            s"graft_approx_most_frequent(col, capacity, k): $what must be an integer literal, got $other")
        }
        SpaceSavingAgg(children(0), intLit(children(1), "capacity"),
          intLit(children(2), "k")).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_word_stem"),
      new ExpressionInfo(classOf[WordStem].getName, "graft_word_stem"),
      (children: Seq[Expression]) => WordStem(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "graft_bpe_encode"),
      (children: Seq[Expression]) => BpeEncode(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_matvec"),
      new ExpressionInfo(classOf[MatVec].getName, "graft_matvec"),
      (children: Seq[Expression]) => MatVec(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[Normalize].getName, "graft_normalize"),
      (children: Seq[Expression]) => Normalize(children.head,
        if (children.length > 1)
          GraftExtensions.strLit(children(1), "graft_normalize", "form")
        else "NFC")))
    ext.injectFunction((
      FunctionIdentifier("graft_murmur3_x64_128"),
      new ExpressionInfo(classOf[Murmur3X64128].getName, "graft_murmur3_x64_128"),
      (children: Seq[Expression]) => Murmur3X64128(children.head)))
    for ((sqlName, algo) <- Seq("hmac_md5" -> "MD5", "hmac_sha1" -> "SHA-1",
        "hmac_sha256" -> "SHA-256", "hmac_sha512" -> "SHA-512"))
      ext.injectFunction((
        FunctionIdentifier(s"graft_$sqlName"),
        new ExpressionInfo(classOf[HmacHash].getName, s"graft_$sqlName"),
        (children: Seq[Expression]) => HmacHash(children(0), children(1), algo)))
    // real-parameter CDFs (CdfExprs): cast args so SQL integer/decimal
    // literals (beta_cdf(3, 3.6, x)) resolve like the reference's
    // implicit numeric coercion
    def dbl(e: Expression): Expression =
      org.apache.spark.sql.catalyst.expressions.Cast(e,
        org.apache.spark.sql.types.DoubleType)
    ext.injectFunction((
      FunctionIdentifier("graft_beta_cdf"),
      new ExpressionInfo(classOf[BetaCdfExpr].getName, "graft_beta_cdf"),
      (children: Seq[Expression]) =>
        BetaCdfExpr(dbl(children(0)), dbl(children(1)), dbl(children(2)))))
    ext.injectFunction((
      FunctionIdentifier("graft_gamma_cdf"),
      new ExpressionInfo(classOf[GammaCdfExpr].getName, "graft_gamma_cdf"),
      (children: Seq[Expression]) =>
        GammaCdfExpr(dbl(children(0)), dbl(children(1)), dbl(children(2)))))
    ext.injectFunction((
      FunctionIdentifier("graft_inverse_beta_cdf"),
      new ExpressionInfo(classOf[InverseBetaCdfExpr].getName, "graft_inverse_beta_cdf"),
      (children: Seq[Expression]) =>
        InverseBetaCdfExpr(dbl(children(0)), dbl(children(1)), dbl(children(2)))))
    ext.injectFunction((
      FunctionIdentifier("graft_inverse_gamma_cdf"),
      new ExpressionInfo(classOf[InverseGammaCdfExpr].getName, "graft_inverse_gamma_cdf"),
      (children: Seq[Expression]) =>
        InverseGammaCdfExpr(dbl(children(0)), dbl(children(1)), dbl(children(2)))))
    ext.injectFunction((
      FunctionIdentifier("graft_kmv"),
      new ExpressionInfo(classOf[KmvSketchAgg].getName, "graft_kmv"),
      (children: Seq[Expression]) => KmvSketchAgg(children(0), children(1) match {
        case Literal(k: Number, _) => k.intValue
        case other => throw new IllegalArgumentException(
          s"graft_kmv(col, k): k must be an integer literal, got $other")
      }).toAggregateExpression()))

    // ---- Bing tile + envelope families (functions/BingTile, -------------
    // functions/Envelope): COMPOSED from built-in expressions at the
    // Column level, so SQL registration wraps the same composition —
    // the expression tree the builder returns is all codegen'd
    // built-ins, no new evaluation machinery. Registered because the
    // reference exposes its tile/geometry surface to SQL users
    // (geospatial.rst:510, :186) — a SQL-first caller gets the same
    // functions a Column-API caller does.
    // eager ColumnNode→Expression conversion (GraftSqlShims): the lazy
    // Bridge wrapper survives analysis unresolved in the SQL-function
    // path, where the builder must hand the analyzer a real tree
    def composed(name: String)(f: Seq[Expression] => Column): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (children: Seq[Expression]) =>
          org.apache.spark.sql.GraftSqlShims.expression(f(children))))
    def c(e: Expression): Column = Bridge.column(e)
    def zoomOf(e: Expression, fn: String): Int =
      GraftExtensions.numLit(e, fn, "zoom").toInt
    import graft.functions.{BingTile, Envelope}
    composed("graft_bing_tile_at") { ch =>
      org.apache.spark.sql.functions.struct(
        BingTile.tileXAt(c(ch(1)), zoomOf(ch(2), "graft_bing_tile_at")).as("x"),
        BingTile.tileYAt(c(ch(0)), zoomOf(ch(2), "graft_bing_tile_at")).as("y"))
    }
    composed("graft_bing_tile_quadkey") { ch =>
      BingTile.quadkey(c(ch(0)), c(ch(1)), zoomOf(ch(2), "graft_bing_tile_quadkey"))
    }
    composed("graft_bing_tile_from_quadkey") { ch =>
      val (x, y) = BingTile.tileFromQuadkey(c(ch(0)),
        zoomOf(ch(1), "graft_bing_tile_from_quadkey"))
      org.apache.spark.sql.functions.struct(x.as("x"), y.as("y"))
    }
    composed("graft_bing_tile_children") { ch =>
      BingTile.childrenQuadkeys(c(ch(0)), c(ch(1)),
        zoomOf(ch(2), "graft_bing_tile_children"))
    }
    composed("graft_bing_tile_polygon") { ch =>
      val (lonMin, lonMax, latMin, latMax) =
        BingTile.polygon(c(ch(0)), c(ch(1)), zoomOf(ch(2), "graft_bing_tile_polygon"))
      org.apache.spark.sql.functions.struct(lonMin.as("lon_min"),
        lonMax.as("lon_max"), latMin.as("lat_min"), latMax.as("lat_max"))
    }
    composed("graft_bing_tiles_around") { ch =>
      BingTile.tilesAround(c(ch(0)), c(ch(1)),
        zoomOf(ch(2), "graft_bing_tiles_around"))
    }
    // geometry_to_bing_tiles, envelope face (geospatial.rst:510; q213):
    // tile COVER of a box as (x, y, qk) structs for the caller to
    // explode — args (lon_min, lat_min, lon_max, lat_max, zoom)
    composed("graft_bing_tile_cover") { ch =>
      BingTile.envelopeCover(c(ch(0)), c(ch(1)), c(ch(2)), c(ch(3)),
        zoomOf(ch(4), "graft_bing_tile_cover"))
    }
    // reciprocal-rank fusion (q215; Cormack et al. SIGIR'09) in INTEGER
    // micro-units: graft_rrf(k, rank...) = Σ 1000000 div (k + rank_i)
    // over the non-null ranks — exact on any engine (positive integer
    // division; the double quotient is correctly rounded and truncated,
    // identical to div for these magnitudes), no float accumulation;
    // k must be a literal (the fusion constant)
    composed("graft_rrf") { ch =>
      require(ch.length >= 2,
        "graft_rrf(k, rank...): at least one rank column required")
      val k = GraftExtensions.numLit(ch.head, "graft_rrf", "k").toInt
      import org.apache.spark.sql.functions.{coalesce, lit}
      ch.tail.map { r =>
        coalesce((lit(1000000L) / (lit(k.toLong) + c(r).cast("long")))
          .cast("long"), lit(0L))
      }.reduce(_ + _)
    }
    // zoom is the quadkey's length — registered so SQL callers get the
    // reference's accessor name (geospatial.rst:510 bing_tile_zoom_level)
    composed("graft_bing_tile_zoom_level") { ch =>
      org.apache.spark.sql.functions.length(c(ch(0))).cast("int")
    }
    // RFC 4648 base32 codec (binary.rst to_base32/from_base32): native
    // expressions (plans/CodecExprs.scala) — full binary domain, one
    // static call per value inside WholeStageCodegen, and they nest
    // under other graft functions (a SQL-string composition cannot:
    // resolution re-renders children whose resolved lambdas emit
    // unparseable namedlambdavariable()). The q156 SQL fold stays as
    // the cross-engine-oracle-able variant of the same codec.
    ext.injectFunction((
      FunctionIdentifier("graft_to_base32"),
      new ExpressionInfo(classOf[Base32Encode].getName, "graft_to_base32"),
      (children: Seq[Expression]) => Base32Encode(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_from_base32"),
      new ExpressionInfo(classOf[Base32Decode].getName, "graft_from_base32"),
      (children: Seq[Expression]) => Base32Decode(children.head)))
    composed("graft_st_env") { ch =>
      Envelope.make(c(ch(0)), c(ch(1)), c(ch(2)), c(ch(3)))
    }
    composed("graft_st_env_buffer") { ch => Envelope.buffer(c(ch(0)), c(ch(1))) }
    composed("graft_st_env_intersection") { ch =>
      Envelope.intersection(c(ch(0)), c(ch(1)))
    }
    composed("graft_st_env_union") { ch => Envelope.unionEnvelope(c(ch(0)), c(ch(1))) }
    composed("graft_st_env_area") { ch => Envelope.area(c(ch(0))) }
    composed("graft_st_env_intersects") { ch => Envelope.intersects(c(ch(0)), c(ch(1))) }
    composed("graft_st_env_contains") { ch => Envelope.contains(c(ch(0)), c(ch(1))) }
    // chi²/F forward+inverse at REAL df are exact one-line delegations
    // to the beta/gamma kernels (chi²(df) = Gamma(df/2, scale 2);
    // F(d1,d2) via Y = d1X/(d1X+d2) ~ Beta(d1/2, d2/2)) — registered as
    // native expressions (plans/CdfExprs.scala) whose domain checks
    // carry the reference's own parameter names and message text
    // ("df"/"numerator df"/"denominator df must be greater than 0",
    // "value must non-negative" — MathFunctions.java:845-893), not the
    // underlying kernels' shape/a/b wording (r7 ADVICE).
    locally {
      def cc(e: Expression): Expression =
        org.apache.spark.sql.catalyst.expressions.Cast(
          e, org.apache.spark.sql.types.DoubleType)
      ext.injectFunction((
        FunctionIdentifier("graft_chi_squared_cdf"),
        new ExpressionInfo(classOf[ChiSquaredCdfExpr].getName, "graft_chi_squared_cdf"),
        (ch: Seq[Expression]) => ChiSquaredCdfExpr(cc(ch(0)), cc(ch(1)))))
      ext.injectFunction((
        FunctionIdentifier("graft_inverse_chi_squared_cdf"),
        new ExpressionInfo(classOf[InverseChiSquaredCdfExpr].getName, "graft_inverse_chi_squared_cdf"),
        (ch: Seq[Expression]) => InverseChiSquaredCdfExpr(cc(ch(0)), cc(ch(1)))))
      ext.injectFunction((
        FunctionIdentifier("graft_f_cdf"),
        new ExpressionInfo(classOf[FCdfExpr].getName, "graft_f_cdf"),
        (ch: Seq[Expression]) => FCdfExpr(cc(ch(0)), cc(ch(1)), cc(ch(2)))))
      ext.injectFunction((
        FunctionIdentifier("graft_inverse_f_cdf"),
        new ExpressionInfo(classOf[InverseFCdfExpr].getName, "graft_inverse_f_cdf"),
        (ch: Seq[Expression]) => InverseFCdfExpr(cc(ch(0)), cc(ch(1)), cc(ch(2)))))
    }
    // line_locate_point / line_interpolate_point (plans/LineExprs —
    // GeoFunctions.java:442/:467): linestring as parallel vertex
    // arrays. The faces carry the reference's null/empty contract —
    // EMPTY line → NULL locate and the NULL (empty) point; NULL
    // inputs propagate from the kernels' null-safe eval — and the
    // interpolate face validates the fraction on the empty branch too
    // (the reference checks it before looking at the geometry), with
    // the reference's message verbatim.
    locally {
      import org.apache.spark.sql.functions.{concat, lit, raise_error, size, struct, when}
      // SQL numeric literals arrive as Decimal — cast scalar args to
      // double at the catalyst level before they reach the kernels
      def dc(e: Expression): Expression =
        org.apache.spark.sql.catalyst.expressions.Cast(
          e, org.apache.spark.sql.types.DoubleType)
      composed("graft_line_locate_point") { ch =>
        when(size(c(ch(0))) === 0, lit(null).cast("double"))
          .otherwise(Bridge.column(LineLocatePoint(ch(0), ch(1), dc(ch(2)), dc(ch(3)))))
      }
      composed("graft_line_interpolate_point") { ch =>
        val f = c(ch(2)).cast("double")
        // NULL linestring or NULL fraction -> NULL (not struct(NULL,
        // NULL), and never a raise_error with a null message): SQL null
        // propagation precedes both the fraction check and the geometry
        // branch (r8 ADVICE).
        when(c(ch(0)).isNull || c(ch(1)).isNull || f.isNull,
          lit(null).cast("struct<x:double,y:double>"))
          .when(size(c(ch(0))) === 0,
            when(f >= 0.0 && f <= 1.0, lit(null)).otherwise(raise_error(concat(
              lit("line_interpolate_point: Fraction must be between 0 and 1, but is "),
              f.cast("string")))))
          .otherwise(struct(
            Bridge.column(LineInterpolateX(ch(0), ch(1), dc(ch(2)))).as("x"),
            Bridge.column(LineInterpolateY(ch(0), ch(1), dc(ch(2)))).as("y")))
      }
    }

    // ---- Pipeline-operator TABLE functions (the SQL front door) ---------
    // The reference is a SQL engine; a pipeline team's first question is
    // "can I call this from SQL". Each registration wraps the SAME
    // DataFrame face the Scala API exposes (one implementation, equality
    // pinned by SqlSurfaceSpec): the builder resolves the table-name
    // literal against the active session's catalog (temp view or table),
    // applies the operator, and hands the analyzer the composed logical
    // plan — so `SELECT * FROM graft_pack('docs', 128)` is exactly
    // Pack.packSequences(spark.table("docs"), 128).
    //
    // Index-building operators (graft_minhash_pairs, graft_winnow_extents,
    // graft_excise_spans) materialize their fingerprint/band index when
    // the statement is ANALYZED — same moment the DataFrame face pays it —
    // so re-analyzing the same SQL text rebuilds the index; cache the
    // result (CACHE TABLE / CREATE TEMP VIEW over the output) to reuse it.
    locally {
      import org.apache.spark.sql.{DataFrame, SparkSession}
      import org.apache.spark.sql.functions.{col, expr}
      import graft.operators.{Dedup, Mix, Pack, Quality, Winnow}
      def tvf(name: String)(
          build: (DataFrame, Seq[Expression]) => DataFrame): Unit =
        ext.injectTableFunction((
          FunctionIdentifier(name),
          new ExpressionInfo(classOf[GraftExtensions].getName, name),
          (children: Seq[Expression]) => {
            if (children.isEmpty) throw new IllegalArgumentException(
              s"$name(table, ...): missing the table-name argument")
            val table = GraftExtensions.strLit(children.head, name, "table")
            build(SparkSession.active.table(table), children.tail)
              .queryExecution.logical
          }))
      // optional positional numeric args (SQL literals; decimals arrive
      // as Spark Decimal — numLit handles both)
      def num(a: Seq[Expression], i: Int, dflt: Double, fn: String): Double =
        if (a.length > i) GraftExtensions.numLit(a(i), fn, s"arg ${i + 2}")
        else dflt
      def reqNum(a: Seq[Expression], i: Int, fn: String, what: String): Double =
        if (a.length > i) GraftExtensions.numLit(a(i), fn, what)
        else throw new IllegalArgumentException(s"$fn: missing required $what")

      // two-table variant: the DEPLOYMENT (*Against) and search faces
      // take a batch/query table AND a corpus/index table
      def tvf2(name: String)(
          build: (DataFrame, DataFrame, Seq[Expression]) => DataFrame): Unit =
        ext.injectTableFunction((
          FunctionIdentifier(name),
          new ExpressionInfo(classOf[GraftExtensions].getName, name),
          (children: Seq[Expression]) => {
            if (children.length < 2) throw new IllegalArgumentException(
              s"$name(table, table, ...): needs two table-name arguments")
            val a = SparkSession.active.table(
              GraftExtensions.strLit(children(0), name, "first table"))
            val b = SparkSession.active.table(
              GraftExtensions.strLit(children(1), name, "second table"))
            build(a, b, children.drop(2)).queryExecution.logical
          }))

      // dedup family
      tvf("graft_dedup_exact")((docs, _) => Dedup.exactGroups(docs))
      tvf("graft_jaccard_pairs") { (docs, a) =>
        Dedup.jaccardPairs(docs,
          threshold = reqNum(a, 0, "graft_jaccard_pairs", "threshold"),
          n = num(a, 1, 3, "graft_jaccard_pairs").toInt,
          maxDf = num(a, 2, 50, "graft_jaccard_pairs").toInt)
      }
      tvf("graft_minhash_pairs") { (docs, a) =>
        Dedup.minhashCandidates(docs,
          k = num(a, 0, 32, "graft_minhash_pairs").toInt,
          rowsPerBand = num(a, 1, 4, "graft_minhash_pairs").toInt,
          maxBucket = num(a, 2, 20, "graft_minhash_pairs").toInt,
          minEstJaccard = num(a, 3, 0.5, "graft_minhash_pairs"))
      }
      tvf("graft_simhash_pairs") { (docs, a) =>
        Dedup.simhashCandidates(docs,
          maxHamming = num(a, 0, 3, "graft_simhash_pairs").toInt,
          maxChunkDf = num(a, 1, 20, "graft_simhash_pairs").toInt)
      }
      // winnow family (detect + cut)
      tvf("graft_winnow_extents") { (docs, a) =>
        Winnow.spanExtents(docs,
          k = num(a, 0, 5, "graft_winnow_extents").toInt,
          w = num(a, 1, 8, "graft_winnow_extents").toInt,
          maxDf = num(a, 2, 50, "graft_winnow_extents").toInt)
      }
      tvf("graft_excise_spans") { (docs, a) =>
        Winnow.exciseSpans(docs,
          k = num(a, 0, 5, "graft_excise_spans").toInt,
          w = num(a, 1, 8, "graft_excise_spans").toInt,
          maxDf = num(a, 2, 50, "graft_excise_spans").toInt)
      }
      tvf("graft_dedup_keep_best") { (docs, a) =>
        Dedup.keepBest(docs, Dedup.minhashCandidates(docs,
          minEstJaccard = num(a, 0, 0.5, "graft_dedup_keep_best")))
      }
      // mix family (budget is REQUIRED — a defaulted token budget would
      // silently gate someone's corpus at an arbitrary size)
      tvf("graft_mix_keep") { (docs, a) =>
        Mix.keep(docs, reqNum(a, 0, "graft_mix_keep", "budget_tokens").toLong)
      }
      tvf("graft_mix_keep_temperature") { (docs, a) =>
        Mix.keepTemperature(docs,
          reqNum(a, 0, "graft_mix_keep_temperature", "budget_tokens").toLong,
          alpha = num(a, 1, 0.5, "graft_mix_keep_temperature"))
      }
      tvf("graft_mix_report") { (docs, a) =>
        Mix.report(docs, reqNum(a, 0, "graft_mix_report", "budget_tokens").toLong)
      }
      // pack family
      tvf("graft_pack") { (docs, a) =>
        Pack.packSequences(docs, seqLen = num(a, 0, 512, "graft_pack").toInt)
      }
      tvf("graft_shard_manifest") { (docs, a) =>
        Pack.shardManifest(docs,
          seqLen = num(a, 0, 512, "graft_shard_manifest").toInt,
          binsPerShard = num(a, 1, 16, "graft_shard_manifest").toInt,
          seed = num(a, 2, 42, "graft_shard_manifest").toLong)
      }
      // deployment faces: gate/search a BATCH table against a
      // corpus/index table, from SQL
      tvf2("graft_minhash_against") { (batch, corpus, a) =>
        Dedup.minhashCandidatesAgainst(batch,
          Dedup.minhashBands(Dedup.minhashSignatures(corpus)),
          minEstJaccard = num(a, 0, 0.5, "graft_minhash_against"))
      }
      tvf2("graft_excise_against") { (batch, corpus, a) =>
        Winnow.exciseAgainst(batch,
          Winnow.fingerprints(corpus,
            k = num(a, 0, 5, "graft_excise_against").toInt,
            w = num(a, 1, 8, "graft_excise_against").toInt),
          k = num(a, 0, 5, "graft_excise_against").toInt,
          w = num(a, 1, 8, "graft_excise_against").toInt,
          maxDf = num(a, 2, 50, "graft_excise_against").toInt)
      }
      tvf2("graft_mix_keep_against") { (batch, corpus, a) =>
        Mix.keepAgainst(batch, Mix.availability(Mix.counted(corpus),
          reqNum(a, 0, "graft_mix_keep_against", "budget_tokens").toLong))
      }
      // similarity search over (corpus, queries) embedding tables
      tvf2("graft_knn") { (corpus, queries, a) =>
        graft.operators.Ann.bruteKnn(corpus, queries,
          k = num(a, 0, 5, "graft_knn").toInt)
      }
      tvf2("graft_contrastive_pairs") { (corpus, queries, a) =>
        graft.operators.Ann.contrastivePairs(corpus, queries,
          k = num(a, 0, 5, "graft_contrastive_pairs").toInt,
          posThreshold = num(a, 1, 0.9, "graft_contrastive_pairs"))
      }
      // quality gates
      tvf("graft_quality")((docs, _) => Quality.score(docs))
      // lazily composed (no checkpoint): the TVF builder runs at
      // ANALYSIS time, so materializing here would pay a corpus scan
      // per parse and strand one checkpointed RDD per analysis in a
      // long-lived session — the card is an aggregation Catalyst fuses
      // fine unmaterialized (the q199 query face handles caching)
      tvf("graft_corpus_report") { (docs, _) =>
        graft.operators.Report.card(graft.operators.Report.thin(docs))
      }
      tvf("graft_ccnet_buckets") { (docs, a) =>
        graft.operators.LmScore.ccnetBuckets(docs,
          v = num(a, 0, 4096, "graft_ccnet_buckets").toInt,
          sampleBuckets = num(a, 1, 256, "graft_ccnet_buckets").toInt)
      }
      // required positional string args (column names / predicates)
      def reqStr(a: Seq[Expression], i: Int, fn: String, what: String): String =
        if (a.length > i) GraftExtensions.strLit(a(i), fn, what)
        else throw new IllegalArgumentException(s"$fn: missing required $what")
      // importance selection / sampling / quota / tokenizer (r13 VERDICT
      // item 5 — the last Scala-only pipeline entry points). The target
      // predicate arrives as SQL text resolved against the docs table
      // (e.g. graft_dsir('docs', 'lang = ''en''', 1024, 50)).
      tvf("graft_dsir") { (docs, a) =>
        graft.operators.Dsir.importanceTopK(docs,
          isTarget = expr(reqStr(a, 0, "graft_dsir", "target_predicate")),
          b = num(a, 1, 1024, "graft_dsir").toInt,
          k = num(a, 2, 50, "graft_dsir").toInt)
      }
      tvf("graft_weighted_sample") { (docs, a) =>
        graft.operators.WeightedSample.topK(docs,
          k = reqNum(a, 0, "graft_weighted_sample", "k").toInt,
          maxWeight = num(a, 1, 500, "graft_weighted_sample").toLong)
      }
      tvf("graft_domain_quota") { (docs, a) =>
        graft.operators.Quota.perDomain(docs,
          domainCol = reqStr(a, 0, "graft_domain_quota", "domain_col"),
          idCol = reqStr(a, 1, "graft_domain_quota", "id_col"),
          k = reqNum(a, 2, "graft_domain_quota", "k").toInt,
          margin = num(a, 3, 8, "graft_domain_quota").toInt)
      }
      tvf("graft_semdedup_pairs") { (embs, a) =>
        graft.operators.SemDedup.dupPairs(embs,
          threshold = reqNum(a, 0, "graft_semdedup_pairs", "threshold"),
          c = num(a, 1, 16, "graft_semdedup_pairs").toInt)
      }
      tvf("graft_bpe_train") { (docs, a) =>
        graft.operators.Bpe.trainMergesBatched(docs,
          rounds = num(a, 0, 6, "graft_bpe_train").toInt,
          batch = num(a, 1, 4, "graft_bpe_train").toInt)
      }
      tvf2("graft_nsw_knn") { (corpus, queries, a) =>
        graft.operators.Ann.nswKnnLsh(corpus, queries,
          k = num(a, 0, 5, "graft_nsw_knn").toInt)
      }
      // the k-means-celled face (q214) — replay-deterministic since the
      // r15 centroid quantization; reuses an IVF-style cell layout
      tvf2("graft_nsw_knn_kmeans") { (corpus, queries, a) =>
        graft.operators.Ann.nswKnn(corpus, queries,
          k = num(a, 0, 5, "graft_nsw_knn_kmeans").toInt)
      }
      // index qualification (q216): recall@k of one (qid, cid, rn)
      // ranking against another — grade any two index faces
      tvf2("graft_ann_recall") { (approx, exact, a) =>
        graft.operators.Ann.recallAtK(approx, exact,
          k = num(a, 0, 5, "graft_ann_recall").toInt)
      }
      // embedding-quality QA (q217): per-label 1-NN agreement
      tvf2("graft_nn_label_agreement") { (corpus, probes, _) =>
        graft.operators.Ann.nnLabelAgreement(corpus, probes)
      }
      // RAG / context-window chunking (q218): overlapping word windows
      tvf("graft_text_chunks") { (docs, a) =>
        import org.apache.spark.sql.functions.explode
        val w = num(a, 0, 32, "graft_text_chunks").toInt
        val s = num(a, 1, 24, "graft_text_chunks").toInt
        docs.select(col("doc_id"),
          explode(graft.functions.Text.chunkWords(
            graft.functions.Text.words(col("text")), w, s)).as("c"))
          .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
            col("c.start_word").as("start_word"),
            col("c.n_words").as("n_words"), col("c.chunk").as("chunk"))
      }
      // iterative-curation QA (q219): per-source snapshot diff
      tvf2("graft_corpus_diff") { (oldDocs, newDocs, _) =>
        graft.operators.Report.corpusDiff(oldDocs, newDocs)
      }
      // graft_bpe_encode('docs', 'merges', k): the merge list is a FIT
      // ARTIFACT (vocab-sized, the Ann-model posture), so the second
      // table collects to the driver at ANALYSIS time — same moment the
      // index-building TVFs above pay their materialization
      tvf2("graft_bpe_encode") { (docs, merges, a) =>
        val ms = merges.orderBy(col("round"))
          .select(col("pair_a"), col("pair_b")).collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        graft.operators.Bpe.encodeTokens(docs, ms,
          k = num(a, 0, 30, "graft_bpe_encode").toInt)
      }
      // curation reports (q204/q205/q206 faces)
      tvf("graft_dedup_savings") { (docs, _) =>
        graft.operators.Components.savingsBySource(docs,
          Dedup.minhashCandidates(docs).select(col("doc_a"), col("doc_b")))
      }
      tvf("graft_source_leakage")((docs, _) => Dedup.crossSourceLeakage(docs))
      // graft_fertility('docs', 'merges'): trained merge list as a fit
      // artifact, collected at analysis time (the graft_bpe_encode
      // posture)
      tvf2("graft_fertility") { (docs, merges, _) =>
        val ms = merges.orderBy(col("round"))
          .select(col("pair_a"), col("pair_b")).collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        graft.operators.Bpe.fertilityByLang(docs, ms)
      }
      // classifier quality gate (q207): fit takes the seed-positive
      // predicate as SQL text resolved against the docs table (the
      // graft_dsir posture); score deploys a frozen weight table
      tvf("graft_clf_fit") { (docs, a) =>
        graft.operators.Classifier.fitOdds(docs,
          expr(reqStr(a, 0, "graft_clf_fit", "pos_predicate")),
          minDf = num(a, 1, 2, "graft_clf_fit").toInt)
      }
      tvf2("graft_clf_score") { (docs, weights, _) =>
        graft.operators.Classifier.scoreAgainst(docs, weights)
      }
      // multi-class faces (q221, the presto-ml classify contract): fit
      // takes the label EXPRESSION as SQL text (the graft_clf_fit
      // posture); classify deploys the frozen dense grid
      tvf("graft_clf_fit_multi") { (docs, a) =>
        graft.operators.Classifier.fitOddsMulti(docs,
          expr(reqStr(a, 0, "graft_clf_fit_multi", "label_expr")),
          minDf = num(a, 1, 2, "graft_clf_fit_multi").toInt)
      }
      tvf2("graft_classify") { (docs, weights, _) =>
        graft.operators.Classifier.classifyAgainst(docs, weights)
      }
      // hybrid lexical ⊕ vector retrieval (q220): BM25 over the docs
      // table fused with each probe's brute-cosine ranking over the
      // embeddings table via integer RRF. Terms arrive as one
      // comma-separated string literal (the bag-of-terms query).
      tvf2("graft_hybrid_search") { (docs, embs, a) =>
        if (a.isEmpty) throw new IllegalArgumentException(
          "graft_hybrid_search(docs, embs, 'terms,csv', qid, k, depth): missing terms")
        val terms = GraftExtensions
          .strLit(a.head, "graft_hybrid_search", "terms")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val qid = num(a, 1, 0, "graft_hybrid_search").toLong
        graft.operators.Retrieval.hybridSearch(docs, embs, terms,
          embs.filter(col("vec_id") === qid),
          k = num(a, 2, 10, "graft_hybrid_search").toInt,
          depth = num(a, 3, 20, "graft_hybrid_search").toInt)
      }
      tvf2("graft_matryoshka") { (corpus, queries, a) =>
        graft.operators.Ann.matryoshkaAgreement(corpus, queries,
          dims = num(a, 0, 16, "graft_matryoshka").toInt)
      }
      // filtered ANN (q222): top-k under a metadata predicate. The
      // predicate arrives as SQL text resolved against the corpus table
      // (the graft_clf_fit posture) and prunes CANDIDATES BEFORE
      // scoring — never a post-filtered k-list. Probes = vec_id <
      // qid_max (the bounded-broadcast q64 contract).
      tvf("graft_filtered_knn") { (embs, a) =>
        graft.operators.Ann.bruteKnnFiltered(embs,
          embs.filter(col("vec_id") <
            num(a, 1, 10, "graft_filtered_knn").toLong),
          k = num(a, 2, 5, "graft_filtered_knn").toInt,
          pred = expr(reqStr(a, 0, "graft_filtered_knn", "predicate")))
      }
    }
  }
}

object GraftExtensions {
  /** Numeric-literal extractor for SQL-registration builders (SQL
    * decimal literals like 0.5 arrive as Spark Decimal, not Number).
    */
  def numLit(e: Expression, fn: String, what: String): Double = e match {
    case Literal(v: Number, _) => v.doubleValue
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be a numeric literal, got $other")
  }

  /** String-literal extractor for SQL-registration builders. */
  def strLit(e: Expression, fn: String, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be a string literal, got $other")
  }
}

/** Column-level API over the native expressions (no SQL registration
  * needed — usable on any session).
  */
object NativeFunctions {
  private def col2expr(c: Column): Expression = Bridge.expression(c)

  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(col2expr(a), col2expr(b)))

  def l2Sq(a: Column, b: Column): Column =
    Bridge.column(L2Sq(col2expr(a), col2expr(b)))

  /** One NSW cell's ring + NN-Descent edges — see [[NswCellGraph]]. */
  def nswCellGraph(members: Column, kNbr: Int, rounds: Int): Column =
    Bridge.column(NswCellGraph(col2expr(members), kNbr, rounds))

  def minhashSig(arr: Column, k: Int): Column =
    Bridge.column(MinHashSig(col2expr(arr), k))

  def simhash64(arr: Column): Column =
    Bridge.column(SimHash64(col2expr(arr)))

  def minhashAffine(hashes: Column, k: Int): Column =
    Bridge.column(MinHashAffine(col2expr(hashes), k))

  def simhashBits(hashes: Column, bits: Int): Column =
    Bridge.column(SimHashBits(col2expr(hashes), bits))

  def hdrQuantile(c: Column, q: Double, bits: Int = 3): Column =
    Bridge.column(HdrQuantileAgg(col2expr(c), q, bits).toAggregateExpression())

  def hdrWeightedQuantile(c: Column, w: Column, q: Double, bits: Int = 3): Column =
    Bridge.column(
      HdrWeightedQuantileAgg(col2expr(c), col2expr(w), q, bits).toAggregateExpression())

  def kmvSketch(c: Column, k: Int): Column =
    Bridge.column(KmvSketchAgg(col2expr(c), k).toAggregateExpression())

  def approxMostFrequent(c: Column, capacity: Int, k: Int): Column =
    Bridge.column(SpaceSavingAgg(col2expr(c), capacity, k).toAggregateExpression())

  def hdrQuantiles(c: Column, qs: Seq[Double], bits: Int = 3): Column =
    Bridge.column(HdrQuantilesAgg(col2expr(c), qs, bits).toAggregateExpression())

  def hdrRank(c: Column, v: Long, bits: Int = 3): Column =
    Bridge.column(HdrRankAgg(col2expr(c), v, bits).toAggregateExpression())

  def wordStem(c: Column): Column =
    Bridge.column(WordStem(col2expr(c)))

  /** y = M·x with the matrix as a foldable literal model — the
    * OPQ-style pre-subvector rotation hook; see [[MatVec]].
    */
  def matVec(vec: Column, matrix: Seq[Seq[Double]]): Column =
    Bridge.column(MatVec(col2expr(vec),
      col2expr(org.apache.spark.sql.functions.lit(
        matrix.map(_.toArray).toArray))))

  /** argbest centroid id against a flat literal codebook — the
    * join-free k-means assignment (see [[NearestCentroidId]]).
    * `useCos = true` → argmax cosine with max-id tie (max(struct)
    * semantics); `false` → argmin l2 with min-id tie (min(struct)).
    */
  def nearestCentroid(vec: Column, cents: Seq[(Int, Seq[Double])],
                      useCos: Boolean = true): Column =
    nearestCentroidBy(org.apache.spark.sql.functions.lit(0), vec,
      cents.map { case (cid, ce) => (0, cid, ce) }, useCos)

  /** Grouped form: the codebook is selected per row by `group` (PQ
    * subspace, hierarchical parent). Entries are laid out in
    * ascending-id order per group so the kernel's replace-on-tie rule
    * reproduces the struct-compare tie-breaks exactly.
    */
  def nearestCentroidBy(group: Column, vec: Column,
                        cents: Seq[(Int, Int, Seq[Double])],
                        useCos: Boolean): Column = {
    require(cents.nonEmpty, "nearestCentroidBy: empty codebook")
    val nGroups = cents.map(_._1).max + 1
    val byGroup = cents.groupBy(_._1)
    val ids = Array.tabulate(nGroups)(g =>
      byGroup.getOrElse(g, Nil).map(_._2).sorted.toArray)
    val tab = Array.tabulate(nGroups) { g =>
      byGroup.getOrElse(g, Nil).sortBy(_._2).map(_._3.toArray).toArray
    }
    Bridge.column(NearestCentroidId(col2expr(group), col2expr(vec), ids, tab, useCos))
  }

  /** Apply a trained BPE merge list (rank order) to a symbol-array
    * column in one codegen'd kernel — see [[BpeEncode]].
    */
  def bpeEncode(syms: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeEncode(col2expr(syms),
      col2expr(org.apache.spark.sql.functions.lit(
        merges.map { case (pa, pb) => s"$pa $pb" }.toArray))))

  def normalize(c: Column, form: String = "NFC"): Column =
    Bridge.column(Normalize(col2expr(c), form))

  def murmur3x64128(c: Column): Column =
    Bridge.column(Murmur3X64128(col2expr(c)))

  def betaCdf(a: Column, b: Column, value: Column): Column =
    Bridge.column(BetaCdfExpr(col2expr(a), col2expr(b), col2expr(value)))

  def gammaCdf(shape: Column, scale: Column, value: Column): Column =
    Bridge.column(GammaCdfExpr(col2expr(shape), col2expr(scale), col2expr(value)))

  def inverseBetaCdf(a: Column, b: Column, p: Column): Column =
    Bridge.column(InverseBetaCdfExpr(col2expr(a), col2expr(b), col2expr(p)))

  def inverseGammaCdf(shape: Column, scale: Column, p: Column): Column =
    Bridge.column(InverseGammaCdfExpr(col2expr(shape), col2expr(scale), col2expr(p)))

  /** algo: MD5 | SHA-1 | SHA-256 | SHA-512. */
  def hmac(data: Column, key: Column, algo: String): Column =
    Bridge.column(HmacHash(col2expr(data), col2expr(key), algo))

  def md5Hash60(arr: Column, mod: Long = 0L): Column =
    Bridge.column(Md5Hash60(col2expr(arr), mod))

  def md5Prefix32(s: Column, mod: Long = 0L): Column =
    Bridge.column(Md5Prefix32(col2expr(s), mod))

  /** One linear pass per document: array<struct<term, c_dt>> ==
    * transform(array_distinct(w), t -> struct(t, size(filter(w, x -> x = t)))).
    */
  def wordCounts(w: Column): Column =
    Bridge.column(WordCounts(col2expr(w)))

  def shingleHashes(words: Column, n: Int, algo: String, mod: Long = 0L): Column =
    Bridge.column(ShingleHashes(col2expr(words), n, algo, mod))

  /** O(n) winnowing window-min selection over a gram-hash array —
    * see [[WinnowSelect]].
    */
  def winnowSelect(hashes: Column, w: Int): Column =
    Bridge.column(WinnowSelect(col2expr(hashes), w))

  def slotAgree(a: Column, b: Column): Column =
    Bridge.column(SlotAgreement(col2expr(a), col2expr(b)))

  def hyperplaneBucket(vec: Column, nBits: Int): Column =
    Bridge.column(HyperplaneBucket(col2expr(vec), nBits))

  def stContains(polyLats: Column, polyLons: Column, lat: Column, lon: Column): Column =
    Bridge.column(StContains(col2expr(polyLats), col2expr(polyLons),
      col2expr(lat), col2expr(lon)))

  def tileCover(lonMin: Column, latMin: Column, lonMax: Column, latMax: Column,
                zoom: Int, maxTiles: Long): Column =
    Bridge.column(TileCover(col2expr(lonMin), col2expr(latMin),
      col2expr(lonMax), col2expr(latMax), zoom, maxTiles))

  def lineLocatePoint(xs: Column, ys: Column, px: Column, py: Column): Column =
    Bridge.column(LineLocatePoint(col2expr(xs), col2expr(ys),
      col2expr(px), col2expr(py)))

  def lineInterpolateX(xs: Column, ys: Column, f: Column): Column =
    Bridge.column(LineInterpolateX(col2expr(xs), col2expr(ys), col2expr(f)))

  def lineInterpolateY(xs: Column, ys: Column, f: Column): Column =
    Bridge.column(LineInterpolateY(col2expr(xs), col2expr(ys), col2expr(f)))
}

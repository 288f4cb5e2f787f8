package graft.training

import graft.analytics.LinkProb
import graft.analytics.TreeEnsemble.{Model, Node, decodeModel, predictCol}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic trainer of graft.analytics.TreeEnsemble models — the
  * analog of the reference's ExtraTreesRegressor fit. The engine only
  * scores the literals it produced, which the golden specs re-derive.
  *
  * Algorithm (Geurts, Ernst & Wehenkel, "Extremely randomized trees",
  * Machine Learning 63, 2006): no bootstrap — every tree sees the full
  * sample; randomness comes only from the split search, which draws K
  * candidate features and ONE uniform threshold per candidate inside the
  * feature's global [min,max], then keeps the Gini-best candidate.
  *
  * Determinism at any parallelism, by construction:
  *   - all randomness is a pure splitmix64 hash of
  *     (seed, tree, heap-node, candidate) — no RNG object, no draw order;
  *   - split statistics are LONG label counts, and integer addition is
  *     associative + commutative, so the shuffle/combine order of the
  *     per-partition accumulators cannot dither a bit (the float Gini is
  *     computed once, driver-side, from exact counts);
  *   - candidate ties break on the lowest candidate index.
  *
  * Distribution: trees are trained LEVEL-WISE, all trees at once (the
  * same breadth-first strategy as Spark MLlib's forests): one pass over
  * the cached rows per depth level accumulates the (left/right x pos/neg)
  * counts for every (tree, node, candidate) into one flat long array —
  * depth*1 jobs total, each a machine-sized aggregate (T*2^d*K*4 longs),
  * instead of a job per node. Rows are never re-shuffled; the model stays
  * driver-sized (T * 2^(depth+1) ints/doubles) and ships as literals in
  * the scoring expression, so scoring is a codegen'd projection with zero
  * shuffle, exactly like LinkProb.score.
  */
object TreeTrainer {

  // ---- seeded hash randomness (pure function of the coordinates) -------
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  private def hashU01(seed: Long, a: Long, b: Long, c: Long): Double = {
    val h = splitmix64(splitmix64(splitmix64(seed ^ a) ^ b) ^ c)
    (h >>> 11).toDouble / (1L << 53).toDouble // uniform [0,1), 53-bit
  }

  /** Train `numTrees` extra-trees of depth <= `maxDepth` on `features`
    * against binary `labelCol`. K = `candidatesPerNode` random
    * (feature, threshold) draws per node; nodes with < `minNode` rows or
    * pure labels become leaves.
    */
  def train(
      df: DataFrame, features: Seq[String], labelCol: String,
      numTrees: Int = 64, maxDepth: Int = 4, candidatesPerNode: Int = 4,
      minNode: Long = 8L, seed: Long = 42L
  ): Model = {
    val nf = features.length
    val cols = features.map(f => LinkProb.imputed(col(f))) :+ col(labelCol).cast("double")
    val rows = df.select(cols: _*).rdd
      .map { r =>
        val x = new Array[Double](nf)
        var i = 0
        while (i < nf) { x(i) = r.getDouble(i); i += 1 }
        (x, r.getDouble(nf) > 0.5)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // global per-feature ranges for the uniform threshold draws (min/max
    // are order-independent -> deterministic)
    val (mins, maxs) = rows.mapPartitions { it =>
      val lo = Array.fill(nf)(Double.PositiveInfinity)
      val hi = Array.fill(nf)(Double.NegativeInfinity)
      it.foreach { case (x, _) =>
        var i = 0
        while (i < nf) {
          if (x(i) < lo(i)) lo(i) = x(i)
          if (x(i) > hi(i)) hi(i) = x(i)
          i += 1
        }
      }
      Iterator.single((lo, hi))
    }.reduce { (a, b) =>
      (Array.tabulate(nf)(i => math.min(a._1(i), b._1(i))),
       Array.tabulate(nf)(i => math.max(a._2(i), b._2(i))))
    }

    val maxNodes = 1 << (maxDepth + 1) // heap arrays sized 2^(d+1), index 1-based
    // feat(t)(i) = -1 leaf, -2 dead (below a leaf); thr; prob at leaves
    val feat = Array.fill(numTrees, maxNodes)(-2)
    val thr = Array.fill(numTrees, maxNodes)(0.0)
    val prob = Array.fill(numTrees, maxNodes)(0.0)
    // root is live in every tree
    for (t <- 0 until numTrees) feat(t)(1) = -1

    def drawFeature(t: Int, node: Int, cand: Int): Int =
      (hashU01(seed, t.toLong, node.toLong, cand.toLong * 2L) * nf).toInt.min(nf - 1)
    def drawThreshold(f: Int, t: Int, node: Int, cand: Int): Double = {
      val u = hashU01(seed, t.toLong, node.toLong, cand.toLong * 2L + 1L)
      mins(f) + u * (maxs(f) - mins(f))
    }

    val sc = rows.sparkContext
    var depth = 0
    while (depth <= maxDepth) {
      val levelStart = 1 << depth
      val levelNodes = 1 << depth
      // candidate table for every live node of this level (driver-side,
      // deterministic); at maxDepth there are no candidates — the final
      // pass only computes leaf probabilities
      val isLast = depth == maxDepth
      val k = if (isLast) 0 else candidatesPerNode
      val candFeat = Array.ofDim[Int](numTrees, levelNodes, k)
      val candThr = Array.ofDim[Double](numTrees, levelNodes, k)
      for (t <- 0 until numTrees; n <- 0 until levelNodes; c <- 0 until k) {
        val f = drawFeature(t, levelStart + n, c)
        candFeat(t)(n)(c) = f
        candThr(t)(n)(c) = drawThreshold(f, t, levelStart + n, c)
      }
      val featB = sc.broadcast(feat.map(_.clone()))
      val thrB = sc.broadcast(thr.map(_.clone()))
      val candFB = sc.broadcast(candFeat)
      val candTB = sc.broadcast(candThr)

      // one pass: per (tree, level-node): [pos, neg] node totals, then per
      // candidate [leftPos, leftNeg]
      val stride = 2 + 2 * k
      val acc = rows.mapPartitions { it =>
        val a = new Array[Long](numTrees * levelNodes * stride)
        val ft = featB.value; val th = thrB.value
        val cf = candFB.value; val ct = candTB.value
        it.foreach { case (x, y) =>
          var t = 0
          while (t < numTrees) {
            // route the row down tree t to its node at this level
            var node = 1
            var d = 0
            var live = true
            while (d < depth && live) {
              val f = ft(t)(node)
              if (f >= 0) { node = (node << 1) + (if (x(f) < th(t)(node)) 0 else 1); d += 1 }
              else live = false // reached a leaf above this level
            }
            if (live && ft(t)(node) == -1) {
              val base = (t * levelNodes + (node - levelStart)) * stride
              if (y) a(base) += 1L else a(base + 1) += 1L
              var c = 0
              while (c < k) {
                if (x(cf(t)(node - levelStart)(c)) < ct(t)(node - levelStart)(c)) {
                  if (y) a(base + 2 + 2 * c) += 1L else a(base + 3 + 2 * c) += 1L
                }
                c += 1
              }
            }
            t += 1
          }
        }
        Iterator.single(a)
      }.reduce { (a, b) => var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }
      featB.destroy(); thrB.destroy(); candFB.destroy(); candTB.destroy()

      // driver: finalize this level from exact counts
      def gini(p: Long, n: Long): Double = {
        val tot = (p + n).toDouble
        if (tot == 0.0) 0.0 else { val fp = p / tot; val fn = n / tot; 1.0 - fp * fp - fn * fn }
      }
      for (t <- 0 until numTrees; n <- 0 until levelNodes if feat(t)(levelStart + n) == -1) {
        val node = levelStart + n
        val base = (t * levelNodes + n) * stride
        val pos = acc(base); val neg = acc(base + 1)
        val tot = pos + neg
        prob(t)(node) = if (tot == 0L) 0.5 else pos.toDouble / tot.toDouble
        if (!isLast && tot >= minNode && pos > 0L && neg > 0L) {
          // Gini-best candidate, ties -> lowest index; reject empty sides
          var best = -1
          var bestScore = Double.NegativeInfinity
          var c = 0
          while (c < k) {
            val lp = acc(base + 2 + 2 * c); val ln = acc(base + 3 + 2 * c)
            val rp = pos - lp; val rn = neg - ln
            if (lp + ln > 0L && rp + rn > 0L) {
              val score = gini(pos, neg) -
                ((lp + ln).toDouble / tot.toDouble) * gini(lp, ln) -
                ((rp + rn).toDouble / tot.toDouble) * gini(rp, rn)
              if (score > bestScore + 1e-15) { bestScore = score; best = c }
            }
            c += 1
          }
          if (best >= 0 && bestScore > 0.0) {
            feat(t)(node) = candFeat(t)(n)(best)
            thr(t)(node) = candThr(t)(n)(best)
            feat(t)(node << 1) = -1 // children live for the next level
            feat(t)((node << 1) + 1) = -1
          }
        }
      }
      depth += 1
    }
    rows.unpersist(false)

    val trees = Array.tabulate(numTrees) { t =>
      Array.tabulate(maxNodes) { i =>
        if (i == 0) Node(-2, 0.0, 0.0)
        else Node(feat(t)(i), thr(t)(i), prob(t)(i))
      }
    }
    Model(features, trees)
  }

  /** A 16x3 extra-trees model fit by
    * `sbt "Test/runMain graft.training.TrainTreeModel 20000 16 3"` on
    * syntheticLabeledNonlinear(20000) (10-fold CV macroF1 0.681 / ROC-AUC
    * 0.846, golden-asserted in TreeEnsembleSpec), in the compact wire form
    * and decoded at class load (Double.toString round-trips bit-exactly).
    * The shipped model is TreeModel64; this one stays as the
    * golden-asserted fixture and the predictCol parity reference.
    * Generated by TrainTreeModel — do not hand-edit.
    */
  private val DefaultModelData: String =
    """-2:0.0:0.0;8:0.29050309553234616:0.4719;0:0.5878739222367617:0.46995099303585247;8:0.33344316345428404:0.4746086748715498;6:0.8470231468981052:0.47303710094909407;7:0.04436079717497067:0.4578211106401017;2:27.84948903488814:0.48739495798319327;2:27.795616365051934:0.47143070267044607;-1:0.0:0.474033535165347;-1:0.0:0.4605263157894737;-1:0.0:0.5074626865671642;-1:0.0:0.4531974050046339;-1:0.0:0.49163449163449163;-1:0.0:0.42857142857142855;-1:0.0:0.47368421052631576;-1:0.0:0.4387990762124711|-2:0.0:0.0;0:0.11538116968265433:0.4719;4:87.95957278064682:0.47637235743471307;8:0.05817417662034402:0.46614047128803476;5:0.3075834825223702:0.49635416666666665;2:14.976519682942245:0.47226386806596704;1:0.23401493818726649:0.47702834799608995;2:17.374823600942694:0.46469749967612384;-1:0.0:0.5121951219512195;-1:0.0:0.481064483111566;-1:0.0:0.48885113612231895;-1:0.0:0.4553899330308922;-1:0.0:0.5052950075642966;-1:0.0:0.425414364640884;-1:0.0:0.4751393056150879;-1:0.0:0.4487389452997052|-2:0.0:0.0;2:18.157722350204697:0.4719;2:6.687905032129266:0.477432059866089;4:405.28912881435826:0.4622861054072553;6:-0.5467061216196145:0.5239418554938008;8:0.2226177698603889:0.4502931271049021;4:131.38309772423318:0.4698370021845068;8:0.1703102315061655:0.42909896602658787;-1:0.0:0.49953746530989823;-1:0.0:0.5312760633861552;-1:0.0:0.43449048152295633;-1:0.0:0.462992125984252;-1:0.0:0.4926283680732079;-1:0.0:0.4585843373493976;-1:0.0:0.4406047516198704;-1:0.0:0.42312008978675647|-2:0.0:0.0;2:26.83340188685364:0.4719;2:21.954356369497265:0.47316399779127555;6:-0.07728658431052826:0.4597883597883598;2:9.929896147952906:0.47497446373850866;4:283.19292740924453:0.4654014598540146;4:77.76015333370657:0.48404255319148937;0:-0.06358606680164958:0.4357894736842105;-1:0.0:0.5068289786223278;-1:0.0:0.44798087809787396;-1:0.0:0.4791979949874687;-1:0.0:0.4461538461538462;-1:0.0:0.551948051948052;-1:0.0:0.4707379134860051;-1:0.0:0.4144736842105263;-1:0.0:0.45546558704453444|-2:0.0:0.0;2:10.345886829017346:0.4719;7:0.4738996113733894:0.5024895707172655;7:0.3294258226286461:0.45381494152279417;6:0.5004996489646326:0.5051604693906404;1:0.04787288867034745:0.44972067039106145;4:462.3903899370412:0.4500782849572444;7:0.4690139263322101:0.4610876699484294;-1:0.0:0.5011290929619872;-1:0.0:0.5173393973848778;-1:0.0:0.4350282485875706;-1:0.0:0.46408839779005523;-1:0.0:0.45159615883726967;-1:0.0:0.4304857621440536;-1:0.0:0.45248349124318116;-1:0.0:0.49936143039591313|-2:0.0:0.0;2:13.102435690266523:0.4719;2:3.9090760528821873:0.4917474177403897;6:-0.24928012238217123:0.45433122820246963;1:0.8541360242730747:0.5579737335834897;2:9.23710719240064:0.4655069878085043;5:0.8641564093388785:0.46754538671972146;5:0.6401122255344391:0.44626593806921677;-1:0.0:0.5608380338436745;-1:0.0:0.5191256830601093;-1:0.0:0.47334807172684845;-1:0.0:0.4534839924670433;-1:0.0:0.04903943377148635;-1:0.0:0.8727361722956437;-1:0.0:0.703347799132052;-1:0.0:0.19958358120166567|-2:0.0:0.0;2:15.582020045561721:0.4719;2:11.922921626399289:0.48426736175758706;1:0.23681613842935656:0.457550226830849;5:0.004024524249226724:0.4975845410628019;6:-0.1694634569456931:0.4439865118021731;7:0.22084881383445762:0.46284134116833736;6:0.47426822254142753:0.44873271889400923;-1:0.0:0.501810282404055;-1:0.0:0.49312977099236643;-1:0.0:0.46153846153846156;-1:0.0:0.43158567774936063;-1:0.0:0.45729813664596275;-1:0.0:0.4672897196261682;-1:0.0:0.4598909657320872;-1:0.0:0.4170353982300885|-2:0.0:0.0;2:27.510595667401127:0.4719;4:397.7941803627055:0.47327144686299616;6:-0.6223590629588622:0.45143312101910826;2:10.262940962307844:0.4753189499699419;0:-0.778547314957957:0.465147097800159;3:57.38909245741773:0.5059760956175299;5:0.8378392947529314:0.43781094527363185;-1:0.0:0.5049135886140291;-1:0.0:0.45605910243687287;-1:0.0:0.4852216748768473;-1:0.0:0.46272646272646273;-1:0.0:0.4383561643835616;-1:0.0:0.5337078651685393;-1:0.0:0.519916142557652;-1:0.0:0.36363636363636365|-2:0.0:0.0;2:9.983742096972001:0.4719;6:0.19459589388621146:0.5068289786223278;7:0.06597981299936365:0.45416164053075997;8:0.3667891116265184:0.5027013752455796;5:0.6137337629692552:0.5131381381381381;5:0.5502423868023082:0.46048109965635736;7:0.09074779803870367:0.4532036811946519;-1:0.0:0.5149579831932773;-1:0.0:0.46946216955332726;-1:0.0:0.9115744069015097;-1:0.0:0.07776904948939513;-1:0.0:0.44350961538461536;-1:0.0:0.4759299781181619;-1:0.0:0.41940298507462687;-1:0.0:0.45529129793510326|-2:0.0:0.0;6:0.17843472391810244:0.4719;4:379.23895172362535:0.47474148160705204;5:0.8263138163637027:0.46781272860277984;2:10.683801133510183:0.479809185711116;5:0.28677906930377317:0.4583333333333333;7:0.11192827197939642:0.8868711656441718;2:19.347135011227817:0.05403440755997092;-1:0.0:0.49644549763033174;-1:0.0:0.4698474636395885;-1:0.0:0.16573816155988857;-1:0.0:0.7700296735905044;-1:0.0:0.856985698569857;-1:0.0:0.8954516740366393;-1:0.0:0.057566980448950034;-1:0.0:0.046886446886446886|-2:0.0:0.0;6:-0.730826050744328:0.4719;5:0.48756172447558543:0.4629146477823332;0:-0.8370928347377056:0.47329214067101694;8:0.3388961094139358:0.061046511627906974;7:0.4796812065709957:0.8859984697781178;6:-0.06855586772393829:0.4854368932038835;5:0.04797872628469946:0.47227437726874455;-1:0.0:0.0660377358490566;-1:0.0:0.04976303317535545;-1:0.0:0.884522854851644;-1:0.0:0.9166666666666666;-1:0.0:0.4752650176678445;-1:0.0:0.49288486416558863;-1:0.0:0.5389085396664982;-1:0.0:0.40684693624410817|-2:0.0:0.0;2:17.827886574870316:0.4719;0:0.4276057180312083:0.4798206278026906;4:80.56979772364038:0.45991455139482285;5:0.32231170210817806:0.4848625449483819;2:5.6333974138833325:0.4671148786904414;3:164.71338829693866:0.4890895410082769;0:0.8817725376808039:0.45406546990496305;-1:0.0:0.4909672993368397;-1:0.0:0.4785781544256121;-1:0.0:0.5104450499545867;-1:0.0:0.44655172413793104;-1:0.0:0.5004508566275925;-1:0.0:0.4318181818181818;-1:0.0:0.4514423076923077;-1:0.0:0.4961439588688946|-2:0.0:0.0;4:289.86667217951015:0.4719;6:-0.9841701998359862:0.4749399244764847;2:18.77003969699368:0.4676569238140872;2:5.8239072058847485:0.4155844155844156;5:0.7977766861888689:0.47533477321814255;7:0.12921620766793962:0.4792843691148776;4:375.0274678470932:0.44733377221856485;-1:0.0:0.6470588235294118;-1:0.0:0.35;-1:0.0:0.4819882230689297;-1:0.0:0.46871229098431305;-1:0.0:0.46519886363636365;-1:0.0:0.4843669912865197;-1:0.0:0.4795836669335468;-1:0.0:0.42481833426495247|-2:0.0:0.0;4:179.65135804664726:0.4719;1:-0.4165511464614575:0.47933314962799667;6:0.5914284964507107:0.4676659865013342;8:0.43053073218161175:0.4760076775431862;0:0.312036560640085:0.4806725937379204;2:20.435514397242926:0.47118410700236035;5:0.9904102758253028:0.45376845376845376;-1:0.0:0.46946778711484594;-1:0.0:0.5150501672240803;-1:0.0:0.4919141428991473;-1:0.0:0.45910885504794136;-1:0.0:0.47611041053664005;-1:0.0:0.45958429561200925;-1:0.0:0.884185303514377;-1:0.0:0.046142208774583963|-2:0.0:0.0;8:0.16533274514323718:0.4719;3:121.89945141839007:0.4672953150725939;4:171.24069691035893:0.4742097755086718;2:7.229609562976188:0.4559902200488998;4:420.738276344661:0.4851408722500965;1:0.7387738378750472:0.48308759757155245;4:246.34654133439577:0.46950729298265764;-1:0.0:0.5155555555555555;-1:0.0:0.433389544688027;-1:0.0:0.4753199268738574;-1:0.0:0.5384615384615384;-1:0.0:0.4876325088339223;-1:0.0:0.4553846153846154;-1:0.0:0.45907990314769975;-1:0.0:0.4727491719361638|-2:0.0:0.0;0:0.4010345721579651:0.4719;2:18.70046411749941:0.47557349192863213;2:3.4410686561255206:0.46307011572498297;5:0.8009541843809432:0.4842317154998882;4:252.78328537744943:0.4606329602470089;4:182.89711860435472:0.5343007915567283;2:4.845429954255251:0.4525205158264947;-1:0.0:0.4914653070272667;-1:0.0:0.4768675242608892;-1:0.0:0.4745053272450533;-1:0.0:0.4463586530931872;-1:0.0:0.494949494949495;-1:0.0:0.559652928416486;-1:0.0:0.5583756345177665;-1:0.0:0.44828286933550093"""

  val DefaultModel: Model = decodeModel(LinkProb.ModelFeatures, DefaultModelData)

  /** Deterministic synthetic labeled set whose ground truth is
    * NONLINEAR in the 9 features — an XOR of the self-cite flag and the
    * similarity sign plus a year-gap step — i.e. exactly the axis-aligned
    * interaction structure a tree ensemble expresses and a linear model
    * provably cannot (the XOR term has zero marginal signal per feature).
    * Built like LogisticTrainer.syntheticLabeled, so bit-stable. This is
    * the acceptance task that separates the two LinkProb backends the
    * way the reference's ExtraTrees separates from a linear scorer.
    */
  def syntheticLabeledNonlinear(
      spark: org.apache.spark.sql.SparkSession, n: Long, parts: Int = 8
  ): DataFrame = {
    val xorTerm = (col("self_cite") === 1.0) =!= (col("similarity") > 0.0)
    val z = when(xorTerm, lit(2.5)).otherwise(lit(-2.5)) +
      when(col("year_diff") < 5.0, lit(1.2)).otherwise(lit(0.0)) - lit(0.6)
    LogisticTrainer.labeled(spark, n, parts, LogisticTrainer.syntheticFeatures(selfCiteRate = 0.5), z)
  }

  /** k-fold CV with LogisticTrainer's folds and metrics (comparable reports). */
  def crossValidate(
      df: DataFrame, features: Seq[String], labelCol: String, idCol: String,
      folds: Int = 10, numTrees: Int = 64, maxDepth: Int = 4, seed: Long = 42L
  ): LogisticTrainer.CvMetrics =
    LogisticTrainer.kFold(df, labelCol, idCol, folds) { (rest, fold) =>
      fold.withColumn("__p", predictCol(
        train(rest, features, labelCol, numTrees = numTrees, maxDepth = maxDepth, seed = seed)))
    }
}

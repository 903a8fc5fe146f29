package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.Graft
import graft.engine.{Catalog, Indexer, Searcher}
import graft.streaming.StreamingIndexer

/** Arg-compatible CLI for the reference's five verbs
  * (`/root/reference/src/args.rs:24-127`):
  *
  * {{{
  * graft.cli.Main create <config.yaml>            [--root DIR]
  * graft.cli.Main drop   <name>                   [--root DIR]
  * graft.cli.Main index  <name> [file|kafka://host:port/topic]
  *                       [--root DIR] [--stream] [--commit-interval 30s]
  *                       [--dedup-field F [--dedup-threshold 0.5]
  *                        [--sketch-field F] [--state-dir DIR]]
  *                       (no input, or `-`: read JSONL from stdin,
  *                        like the reference — `src/args.rs:51-56`;
  *                        --dedup-field: streaming near-dedup against
  *                        persisted state before indexing, --sketch-field:
  *                        HLL datasheet maintenance — see
  *                        [[graft.streaming.StreamStateConfig]])
  * graft.cli.Main search <name> <query> [--limit N] [--fields a,b]
  *                       [--unscored] [--root DIR]
  * graft.cli.Main count  <name> <query> [--fields a,b] [--root DIR]
  * graft.cli.Main merge  <name>  [--small-docs N] [--dedup] [--retain-inputs]
  *                               [--root DIR]
  * graft.cli.Main vacuum <name>  --before-gen N   [--root DIR]
  * graft.cli.Main stats  <name> [--sketches --state-dir DIR] [--root DIR]
  * graft.cli.Main pipeline <config.yaml>
  * }}}
  *
  * `pipeline` is the training-data composition (beyond the reference's
  * verb set): curate → dedup → optional decontamination → epoch shuffle →
  * shard write with a manifest commit point — see [[graft.ops.Pipeline]]
  * for the config schema and stage semantics.
  *
  * The engine root (metadata + data location) defaults to `$GRAFT_ROOT` or
  * `/tmp/graft`; the reference's per-index `path` from the YAML config is
  * honored when set to an absolute path and no explicit root is given.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }

    val (flags, _) = parseFlags(args.toList.tail)
    val root = flags.getOrElse("root",
      sys.env.getOrElse("GRAFT_ROOT", "/tmp/graft"))
    val spark = Graft.session(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, appName = "graft-cli")
    val cat = new Catalog(root)
    try run(args, spark, cat, root)
    catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage); usage(); sys.exit(2)
    } finally spark.stop()
  }

  /** The verb dispatch, session-lifecycle-free so tests can drive the CLI
    * paths (incl. the stdin spool) against a shared session. */
  private[graft] def run(args: Array[String],
      spark: org.apache.spark.sql.SparkSession, cat: Catalog,
      root: String): Unit = {
    val (flags, pos) = parseFlags(args.toList.tail)
    args.head match {
      case "create" =>
        val yaml = new String(Files.readAllBytes(Paths.get(pos.head)), "UTF-8")
        val cfg = cat.create(yaml)
        println(s"created index '${cfg.name}'")

      case "drop" =>
        cat.drop(pos.head)
        println(s"dropped index '${pos.head}'")

      case "index" =>
        val name = pos.head
        // No input arg (or `-`) = stdin, like the reference: spool to a
        // temp file so Spark's distributed reader has a path.
        val input = pos.lift(1).filterNot(_ == "-").getOrElse {
          val tmp = Files.createTempFile("graft-stdin", ".jsonl")
          Files.copy(System.in, tmp,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          tmp.toString
        }
        if (input.startsWith("kafka://")) {
          val rest = input.stripPrefix("kafka://")
          val (bootstrap, topic) = rest.split("/", 2) match {
            case Array(b, t) => (b, t)
            case _ => sys.error(s"bad kafka url: $input (want kafka://host:port/topic)")
          }
          val ckpt = s"$root/checkpoints/$name"
          val interval = flags.getOrElse("commit-interval", "30 seconds")
          // Non-`--stream` = the reference's batch Kafka mode: backfill
          // from earliest to the current end offsets, then exit
          // (Trigger.AvailableNow makes awaitTermination return at EOF).
          val batch = !flags.contains("stream")
          val q = new StreamingIndexer(spark, cat)
            .startKafkaStream(name, bootstrap, topic, ckpt, interval,
              earliest = batch, availableNow = batch)
          q.awaitTermination()
        } else if (flags.contains("stream")) {
          val ckpt = s"$root/checkpoints/$name"
          val interval = flags.getOrElse("commit-interval", "30 seconds")
          // stateful sidecars: --dedup-field F [--dedup-threshold 0.5]
          // near-dedups each batch against persisted state before
          // indexing; --sketch-field F maintains the HLL datasheet
          val stateful = flags.get("dedup-field").map { f =>
            graft.streaming.StreamStateConfig(
              stateDir = flags.getOrElse("state-dir", s"$root/state/$name"),
              textField = f,
              threshold = flags.getOrElse("dedup-threshold", "0.5").toDouble,
              sketchField = flags.get("sketch-field"),
              quantileField = flags.get("quantile-field"),
              annField = flags.get("ann-field"),
              annCompactEvery =
                flags.getOrElse("ann-compact-every", "0").toInt,
              annRetrainThreshold =
                flags.getOrElse("ann-retrain-threshold", "0").toLong,
              annTombstoneThreshold =
                flags.getOrElse("ann-tombstone-threshold", "0").toDouble)
          }
          val q = new StreamingIndexer(spark, cat)
            .startFileStream(name, input, ckpt, interval, stateful = stateful)
          q.awaitTermination()
        } else {
          val idx = new Indexer(spark, cat)
          val committed = flags.get("format") match {
            case Some("jsonl") | None => idx.indexFile(name, input)
            case Some(fmt) => idx.indexStructured(name, input, fmt)
          }
          committed match {
            case Some(s) => println(s"committed split ${s.id} (${s.numDocs} docs)")
            case None    => println("no valid documents; nothing committed")
          }
        }

      case "merge" =>
        val idx = new Indexer(spark, cat)
        // --retain-inputs keeps the compacted splits' files on disk so
        // archived generations stay servable (`--at-gen`); reclaim with
        // an explicit `vacuum --before-gen N`
        val retain = flags.contains("retain-inputs")
        val fullDedup = flags.contains("dedup") && flags.get("small-docs").isEmpty
        val preLive =
          if (fullDedup) cat.liveSplits(pos.head).map(_.id).toSet
          else Set.empty[String]
        val merged = (flags.get("small-docs"), flags.contains("dedup")) match {
          case (Some(n), dd)  =>
            idx.mergeSmall(pos.head, n.toLong, dedup = dd, retainInputs = retain)
          case (None, true)   => idx.mergeDedup(pos.head, retainInputs = retain)
          case (None, false)  => idx.merge(pos.head, retainInputs = retain)
        }
        merged match {
          case Some(s) =>
            println(s"merged into split ${s.id} (${s.numDocs} docs)")
            // a FULL --dedup merge drops exact-duplicate docs; trained
            // ANN tiers align by TOMBSTONING their surplus copies (one
            // layout scan, cost ∝ deletes — no retrain; serving
            // anti-joins, `train --compact` folds). A --small-docs
            // --dedup merge dedups only within its subset, which the
            // whole-layout pass must not over-apply to — that path
            // keeps the loud fail-to-retrain behavior.
            if (fullDedup) {
              val ann = new graft.engine.AnnIndex(spark, cat)
              val stillLive = cat.liveSplits(pos.head).map(_.id).toSet
              ann.trainedFields(pos.head).foreach { f =>
                try {
                  val t = ann.dedupSync(pos.head, f, preLive -- stillLive, s)
                  println(s"ann '$f': $t duplicate row(s) tombstoned, " +
                    "coverage swapped — no retrain")
                } catch {
                  case e: Exception => System.err.println(
                    s"ann '$f' dedup-sync failed (full retrain " +
                      s"needed): ${e.getMessage}")
                }
              }
            }
          case None    => println("nothing to merge (need >= 2 eligible splits)")
        }

      case "vacuum" =>
        val before = flags.getOrElse("before-gen",
          sys.error("vacuum requires --before-gen N")).toLong
        val (archives, dirs) = cat.vacuum(pos.head, before)
        println(s"vacuumed $archives archived generation(s), " +
          s"$dirs unreferenced split dir(s) before gen $before")

      case "stats" =>
        val name = pos.head
        val splits = cat.liveSplits(name)
        println(s"index '$name': ${splits.length} splits, " +
          s"${splits.map(_.numDocs).sum} docs")
        // --sketches: read the streaming HLL datasheet state maintained by
        // `index --stream --sketch-field F --state-dir DIR` without any
        // Scala — per-group distinct estimates through the same
        // linear-counting-corrected estimator the batch gate pins
        // (sketch_hll_lc), with the regime that served each group
        if (flags.contains("sketches")) {
          val stateDir = flags.getOrElse("state-dir",
            sys.error("stats --sketches requires --state-dir DIR " +
              "(the directory given to index --stream)"))
          val st = new graft.ops.HllRegisterState(spark, s"$stateDir/hll")
          val gen = st.generation
          if (gen == 0L) println("sketches: no state (no stream batch merged yet)")
          else {
            println(s"sketches (state generation $gen):")
            graft.ops.Sketch.hllEstimateCorrected(st.registers)
              .orderBy("grp").collect().foreach { r =>
                println(f"  ${r.getAs[String]("grp")}%s: " +
                  f"~${r.getAs[Long]("est_distinct")}%d distinct " +
                  f"(regime=${r.getAs[String]("regime")}%s, " +
                  f"v_empty=${r.getAs[Long]("v_empty")}%d)")
              }
          }
          // the HDR side of the datasheet (maintained by --quantile-field)
          val hdr = new graft.ops.HdrBucketState(spark, s"$stateDir/hdr")
          if (hdr.generation > 0L) {
            println(s"quantiles (state generation ${hdr.generation}):")
            graft.ops.Sketch.hdrQuantiles(hdr.buckets, Seq(50, 90, 99))
              .orderBy("grp", "q").collect().foreach { r =>
                println(f"  ${r.getAs[String]("grp")}%s p${r.getAs[Int]("q")}%d: " +
                  f"~${r.getAs[Long]("est")}%d chars " +
                  f"(n=${r.getAs[Long]("n")}%d)")
              }
          }
        }
        // --ann F: the trained vector index's datasheet — sizing, the
        // generation it covers, spill, and the per-cell row histogram
        // (skew visible at a glance: a hot cell serves slow)
        for (f <- flags.get("ann")) {
          val ann = new graft.engine.AnnIndex(spark, cat)
          ann.snapshot(name, f) match {
            case None => println(s"ann '$f': not trained")
            case Some(m) =>
              val cur = cat.manifestState(name)._1
              val stale = if (cur == m.gen) "fresh" else s"STALE (index at $cur)"
              val sizes = ann.cellSizes(name, f)
              val tot = sizes.map(_._2).sum
              val mx = if (sizes.isEmpty) 0L else sizes.map(_._2).max
              val (eb, ee) = (m.base, m.epoch)
              val span = if (eb == ee) s"1 epoch"
                else s"${ee - eb + 1} epochs ($eb..$ee — train --compact folds them)"
              val tier = if (m.pq > 0) s", pq=${m.pq}"
                else if (m.sq8) ", sq8"
                else ""
              val (cd, cf) = ann.fileStats(name, f)
              val fileNote = if (cd > 0 && cf > 2 * cd)
                s"; $cf files over $cd cell dirs — run train --compact " +
                  "to collapse the fan-out"
                else s"; $cf file(s) over $cd cell dir(s)"
              println(s"ann '$f': ${m.cells} cell(s), spill=${m.spill}$tier, " +
                s"trained at gen ${m.gen} ($stale); $tot row(s), " +
                s"largest cell $mx, $span$fileNote")
              // drift + skew + tombstone state (r16/r17): the operator's
              // maintenance signals without reading META by hand
              m.driftPpm.foreach(d =>
                println(s"ann '$f': drift $d ppm below the post-train fit " +
                  "anchor (positive = the stream shifted; " +
                  "--ann-retrain-threshold triggers on this)"))
              // assignment skew from the census already in hand (r17 —
              // CENSUS-bounded: `sizes` is the per-cell row histogram
              // read above, never a corpus scan): hot-cell share of
              // stored rows in ppm + occupied cells, the serve-side twin
              // of the drift trigger's batch-side assignSkew
              if (tot > 0)
                println(s"ann '$f': skew top-cell ${mx * 1000000L / tot} " +
                  s"ppm of rows, ${sizes.count(_._2 > 0)} of ${m.cells} " +
                  "cell(s) occupied (a hot cell serves slow — retrain " +
                  "re-sizes the cells)")
              // recall calibration curve (r17; served arm r18 —
              // train --calibrate): --target-recall picks off the
              // SERVED column; probe stays for diagnosis. Scope note
              // (r17 advice): the curve is measured on the bounded
              // TRAIN SAMPLE, not the full corpus.
              ann.readCalib(name, f).foreach { curve =>
                val pts = curve.map { case (np, pr, sr, hi) =>
                  f"np=$np%d:served ${sr / 10000.0}%.1f%%" +
                    f"/r${graft.engine.AnnIndex.CalibRerankHi}%d ${hi / 10000.0}%.1f%%" +
                    f"/probe ${pr / 10000.0}%.1f%%" }
                  .mkString(" ")
                println(s"ann '$f': recall calibration $pts " +
                  "(calibrated on the train sample; knn --target-recall " +
                  "picks the smallest sufficient (nprobe, rerank) off " +
                  "the SERVED columns)")
              }
              ann.tombstoneShare(name, f).foreach { case (t, nRows) =>
                println(f"ann '$f': $t%d tombstoned row(s) of $nRows%d " +
                  f"stored (${100.0 * t / nRows}%.1f%%) from a --dedup " +
                  "merge (anti-joined at serve; train --compact or the " +
                  "--ann-tombstone-threshold stream policy folds them " +
                  "physical)")
              }
          }
          val (ah, am, an) = graft.engine.AnnIndex.servingCacheStats
          if (ah + am > 0)
            println(f"ann model cache: $ah%d hits / $am%d misses " +
              f"(${100.0 * ah / (ah + am)}%.1f%% hit rate), $an%d resident")
        }
        val (dh, dm, dn) = Catalog.digestCacheStats
        if (dh + dm > 0)
          println(f"digest cache: $dh%d hits / $dm%d misses " +
            f"(${100.0 * dh / (dh + dm)}%.1f%% hit rate), $dn%d resident")
        splits.sortBy(_.id).foreach { s =>
          val ts = (s.minTs, s.maxTs) match {
            case (Some(mn), Some(mx)) => s" ts=[$mn..$mx]"
            case _                    => ""
          }
          val zs = s.numStats.toList.sortBy(_._1)
            .map { case (f, (mn, mx)) => s"$f=[$mn..$mx]" }.mkString(" ")
          val hx = s.hexStats.keys.toList.sorted
            .map(f => s"$f=hex").mkString(" ")
          val dc = s.dicts.toList.sortBy(_._1)
            .map { case (f, vs) => s"$f={${vs.mkString(",")}}" }.mkString(" ")
          // term-digest diagnostics: which fields can prune and how full
          // their filters are (fill → pass-through rate = fill^K)
          val dg = cat.loadDigests(name, s).map(ds =>
            "digests[" + ds.toList.sortBy(_._1).map { case (f, d) =>
              f"$f:${d.m}b/${d.fill * 100}%.0f%%"
            }.mkString(" ") + "]").getOrElse("")
          println(s"  ${s.id}: ${s.numDocs} docs$ts " +
            List(zs, hx, dc, dg).filter(_.nonEmpty).mkString(" "))
        }

      case "search" =>
        // --explain: report which splits the prune families excluded
        // (time/zone/dict/prefix stats + term digests) without scanning
        // — the operator's selectivity check before an expensive query
        if (flags.contains("explain")) {
          val (live, surv) = new Searcher(spark, cat).explainPruneSplits(
            pos.head, pos(1),
            fields = flags.get("fields").map(_.split(",").toList))
          println(s"splits: ${live.length} live, ${surv.length} scanned " +
            s"(${live.length - surv.length} pruned)")
          // the files a scan would open, as the manifest recorded them
          val files = surv.flatMap(_.files)
          println(s"files: ${files.length} in scanned splits, " +
            s"${files.map(_._2).sum} bytes, " +
            s"${surv.count(_.files.isEmpty)} splits without a recorded list")
          surv.map(_.id).sorted.foreach(id => println(s"  scan $id"))
          live.filterNot(surv.contains).map(_.id).sorted
            .foreach(id => println(s"  prune $id"))
        } else {
          val req = graft.engine.SearchRequest(pos(1),
            limit = flags.get("limit").map(_.toInt).getOrElse(1),
            fields = flags.get("fields").map(_.split(",").toList),
            scored = !flags.contains("unscored"),
            asOfGen = flags.get("at-gen").map(_.toLong))
          new Searcher(spark, cat).search(pos.head, req).foreach(println)
        }

      case "count" =>
        println(new Searcher(spark, cat).countMatches(pos.head, pos(1),
          fields = flags.get("fields").map(_.split(",").toList)))

      case "train" =>
        // vector serving: k-means the field's embeddings, persist the
        // centroids + the cell-partitioned corpus rewrite (AnnIndex);
        // --refresh assigns only splits committed since the build with
        // the existing centroids (cost proportional to new data)
        val field = flags.getOrElse("field", sys.error("train requires --field F"))
        if (flags.contains("compact")) {
          // fold the per-refresh epoch directories into one (the vector
          // tier's vacuum) — same centroids, one rewrite, no k-means
          val (ne, n) = new graft.engine.AnnIndex(spark, cat)
            .compactEpochs(pos.head, field)
          if (ne == 0) println(s"nothing to compact for field '$field' " +
            "(a single epoch is already served)")
          else println(s"compacted $ne epoch(s) into one " +
            s"($n row(s)) for field '$field'")
        } else if (flags.contains("refresh")) {
          val (ns, n) = new graft.engine.AnnIndex(spark, cat)
            .refresh(pos.head, field)
          println(s"refreshed: $ns new split(s), $n vector(s) appended " +
            s"for field '$field'")
        } else {
          val (cells, n) = new graft.engine.AnnIndex(spark, cat).train(
            pos.head, field,
            cells = flags.getOrElse("cells", "0").toInt,
            iterations = flags.getOrElse("iterations", "4").toInt,
            spill = flags.getOrElse("spill", "1").toInt,
            pq = flags.getOrElse("pq", "0").toInt,
            sq8 = flags.contains("sq8"),
            calibrate = flags.contains("calibrate"))
          println(s"trained $cells cell(s) over $n vector(s) for field '$field'")
        }

      case "knn" =>
        val field = flags.getOrElse("field", sys.error("knn requires --field F"))
        val k = flags.get("k").map(_.toInt).getOrElse(5)
        val nProbe = flags.get("nprobe").map(_.toInt).getOrElse(0)
        val rerank = flags.get("rerank").map(_.toInt).getOrElse(0)
        // metadata pre-filter in the search grammar, e.g.
        // --filter 'lang:en AND ts:>2020-01-01' — vector search over
        // only the matching documents (filtered-ANN)
        val kFilter = flags.get("filter")
        val ann = new graft.engine.AnnIndex(spark, cat)
        if (nProbe > 0) ann.meta(pos.head, field) match {
          case None => println(s"note: no trained index for '$field'; running brute scan")
          case Some((_, gen, _)) =>
            val cur = cat.manifestState(pos.head)._1
            if (cur != gen)
              println(s"note: trained at generation $gen, index now at $cur " +
                "— documents ingested since are not served; run " +
                "train --refresh (or a full train after a merge)")
        }
        flags.get("queries-file") match {
          case Some(qf) =>
            // batch serving: a JSONL relation {"qid": ..., "vector": [...]}
            // answered in ONE pass over the trained layout
            val queries = spark.read.json(qf)
              .select(col("qid").cast("string").as("qid"),
                col("vector").as("qv"))
            ann.knnBatch(pos.head, field, queries, k, nProbe, rerank, kFilter,
                targetRecall = flags.get("target-recall").map(_.toDouble))
              .orderBy(col("qid"), col("rank"))
              .collect().foreach { r =>
                println(f"${r.getString(0)}%s\t${r.getInt(1)}%d\t" +
                  f"${r.getDouble(2)}%.6f\t${r.getString(3)}%s")
              }
          case None =>
            val qv = flags.getOrElse("vector",
              sys.error("knn requires --vector v1,v2,... (or --queries-file f.jsonl)"))
              .split(",").map(_.trim.toFloat)
            flags.get("hybrid-text") match {
              case Some(tq) =>
                // hybrid retrieval: RRF-fuse the BM25 text arm with the
                // vector arm (integer-exact, the pipe_hybrid_rrf rule)
                ann.knnHybrid(pos.head, field, qv, tq, k, nProbe, rerank,
                  kFilter).foreach { case (s, doc) =>
                  println(s"$s\t$doc")
                }
              case None =>
                // --target-recall R: serve at the smallest CALIBRATED
                // nprobe meeting the target (train --calibrate wrote the
                // curve); an explicit --nprobe wins
                ann.knn(pos.head, field, qv, k, nProbe, rerank, kFilter,
                    targetRecall = flags.get("target-recall").map(_.toDouble))
                  .collect().foreach { r =>
                  println(f"${r.getDouble(0)}%.6f\t${r.getString(1)}%s")
                }
            }
        }

      case "pipeline" =>
        val yaml = new String(Files.readAllBytes(Paths.get(pos.head)), "UTF-8")
        val cfg = graft.ops.Pipeline.fromYaml(yaml)
        val manifest = graft.ops.Pipeline.run(spark, cfg)
        val split = manifest.columns.contains("side")
        val rows = (if (split)
            manifest.orderBy(col("side"), col("shard"))
          else manifest.orderBy(col("shard"))).collect()
        println(s"pipeline wrote ${rows.length} shard(s) to ${cfg.output}")
        rows.foreach { r =>
          val sideNote = if (split) s" [${r.getAs[String]("side")}]" else ""
          println(s"  shard ${r.getLong(0)}$sideNote: ${r.getLong(1)} docs, " +
            s"${r.getLong(3)} chars")
        }

      case other =>
        // throw, don't exit: run() is also the in-process test/embedding
        // entry, and System.exit would skip main's `finally spark.stop()`
        throw new IllegalArgumentException(s"unknown command: $other")
    }
  }

  private def parseFlags(args: List[String]): (Map[String, String], List[String]) = {
    val flags = scala.collection.mutable.Map[String, String]()
    val pos = scala.collection.mutable.ListBuffer[String]()
    var rest = args
    while (rest.nonEmpty) {
      rest match {
        case "--stream" :: t => flags("stream") = "true"; rest = t
        case "--dedup" :: t  => flags("dedup") = "true"; rest = t
        case "--unscored" :: t => flags("unscored") = "true"; rest = t
        case "--explain" :: t => flags("explain") = "true"; rest = t
        case "--retain-inputs" :: t => flags("retain-inputs") = "true"; rest = t
        case "--sketches" :: t => flags("sketches") = "true"; rest = t
        case "--refresh" :: t => flags("refresh") = "true"; rest = t
        case "--compact" :: t => flags("compact") = "true"; rest = t
        case "--sq8" :: t => flags("sq8") = "true"; rest = t
        case "--calibrate" :: t => flags("calibrate") = "true"; rest = t
        case f :: v :: t if f.startsWith("--") => flags(f.stripPrefix("--")) = v; rest = t
        case x :: t => pos += x; rest = t
        case Nil =>
      }
    }
    (flags.toMap, pos.toList)
  }

  private def usage(): Unit =
    System.err.println(
      """usage: create <config.yaml> | drop <name> | index <name> <input> [--stream]
        |         [--dedup-field F [--dedup-threshold 0.5] [--sketch-field F]
        |          [--quantile-field F] [--ann-field F [--ann-compact-every N]
        |           [--ann-retrain-threshold PPM] [--ann-tombstone-threshold FRAC]]
        |          [--state-dir DIR]]
        |       search <name> <query> [--limit N] [--fields a,b] [--unscored]
        |         [--explain   (which splits prune vs scan, no data read)]
        |       count <name> <query> | merge <name> [--retain-inputs]
        |       vacuum <name> --before-gen N   (all: [--root DIR])
        |       stats <name> [--sketches --state-dir DIR] [--ann F]
        |       train <name> --field F [--cells N (default sqrt(n)) --iterations 4 --spill 1 --pq M --sq8 --calibrate | --refresh | --compact]
        |       knn <name> --field F (--vector v1,v2,... | --queries-file f.jsonl)
        |         [--k 5 --nprobe N --rerank R --filter 'search query']
        |         [--target-recall R   (pick nprobe from the calibration curve)]
        |         [--hybrid-text 'search query'   (RRF-fused text + vector)]
        |       pipeline <config.yaml>   (curate -> dedup -> [decontaminate]
        |         -> [mix_weights] -> [leakage-safe split_test_pct]
        |         -> shuffle -> shards)""".stripMargin)
}

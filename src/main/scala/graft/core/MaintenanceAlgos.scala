package graft.core

import graft.catalog.VersionedTable
import graft.operators.{CorpusMaintenance, IncrementalAgg,
  VectorIndexMaintenance}
import graft.streaming.MaintainedView
import org.apache.spark.sql.functions.col

/** Lake maintenance: versioned-table commits and reads (time travel, CDC,
  * restore, vacuum), maintained views, corpus and vector-index upkeep and
  * incremental aggregates — as params-surface algorithms, so the
  * q76-class JobRunner pipelines can compose them.
  */
object MaintenanceAlgos extends AlgoFamily {
  action("VersionWrite", read = p => Vector(p.input("source_dir")),
    write = (p, dfs) => {
      val (df, root) = (dfs.head, p.getString("table_root"))
      val ts = p.getLong("ts")
      val op = p.getStringOpt("op").getOrElse("write")
      val parts = p.getSeq[String]("partition_cols")
      def files = p.getInt("num_files", 10)
      // OCC composes only with the plain layout today: silently
      // dropping expected_version for indexed/partitioned writes
      // would be exactly the lost update the option exists to prevent
      require(p.getOpt[Any]("expected_version").isEmpty
          || (p.getStringOpt("index_col").isEmpty
            && p.getStringOpt("x_col").isEmpty && parts.isEmpty),
        "expected_version is not supported together with index_col/" +
          "x_col/partition_cols — it would be silently ignored")
      (p.getStringOpt("index_col"), p.getStringOpt("x_col")) match {
        case (Some(ic), _) =>
          VersionedTable.writeIndexed(df, p.fsOps, root, ts, ic, files, op)
        case (None, Some(x)) => VersionedTable.writeZIndexed(df, p.fsOps,
          root, ts, x, p.getString("y_col"), p.getInt("bits", 16), files, op)
        case _ if parts.nonEmpty =>
          VersionedTable.writePartitioned(df, p.fsOps, root, ts, parts, op)
        case _ => p.getOpt[Any]("expected_version") match {
          case Some(_) => VersionedTable.writeIf(df, p.fsOps, root, ts,
            p.getLong("expected_version"), op)
          case None => VersionedTable.write(df, p.fsOps, root, ts, op)
        }
      }
    })
  action("VersionMerge", read = p => Vector(p.input("upserts_dir")),
    write = (p, dfs) => {
      val keys = p.getSeq[String]("key_columns")
      val deletes = p.getStringOpt("delete_keys_dir").map(p.read)
        .getOrElse(dfs.head.select(keys.map(col): _*).limit(0))
      VersionedTable.merge(p.spark, p.fsOps, p.getString("table_root"),
        dfs.head, deletes, keys, p.getLong("ts"),
        p.getStringOpt("op").getOrElse("merge"))
    })
  action("VersionRead", read = p => {
    val (s, fs, root) = (p.spark, p.fsOps, p.getString("table_root"))
    Vector((p.getOpt[Any]("version"), p.getOpt[Any]("as_of_ts")) match {
      case (Some(_), _) =>
        val v = p.getLong("version")
        (p.getStringOpt("index_col"), p.getStringOpt("x_col")) match {
          case (Some(ic), _) => VersionedTable.readVersionPruned(s, fs, root,
            v, ic, p.getLong("lo"), p.getLong("hi"))
          case (None, Some(x)) => VersionedTable.readVersionPrunedRect(s, fs,
            root, v, x, p.getString("y_col"), p.getLong("x_lo"),
            p.getLong("x_hi"), p.getLong("y_lo"), p.getLong("y_hi"))
          case _ => VersionedTable.readVersion(s, fs, root, v)
        }
      case (None, Some(_)) =>
        VersionedTable.readAsOf(s, fs, root, p.getLong("as_of_ts"))
      case _ => VersionedTable.readLatest(s, fs, root)
    })
  }, write = (p, dfs) => p.overwriteTarget(dfs.head))
  action("VersionDiff", read = p => {
    val root = p.getString("table_root")
    val keys = p.getSeq[String]("key_columns")
    val (fromV, toV) = (p.getLong("from_version"), p.getLong("to_version"))
    val check = p.getBoolean("check_unique_keys")
    val feed = if (p.getStringOpt("mode").contains("changefeed"))
      VersionedTable.changeFeed _ else VersionedTable.diff _
    Vector(feed(p.spark, p.fsOps, root, fromV, toV, keys, check))
  }, write = (p, dfs) => p.overwriteTarget(dfs.head))
  action("VersionRestore", write = (p, _) => VersionedTable.restore(p.spark,
    p.fsOps, p.getString("table_root"), p.getLong("version"), p.getLong("ts")))
  action("VersionCompact", write = (p, _) => VersionedTable.compact(p.spark,
    p.fsOps, p.getString("table_root"), p.getLong("ts"),
    p.getInt("num_files", 10), p.getStringOpt("index_col")))
  action("VersionVacuum", write = (p, _) => VersionedTable.vacuum(p.fsOps,
    p.getString("table_root"), p.getInt("keep_last"),
    sweepUncommitted = p.getBoolean("sweep_uncommitted"),
    retentionMs = p.getOpt[Any]("retention_ms")
      .map(_ => p.getLong("retention_ms"))
      .getOrElse(VersionedTable.DefaultRetentionMs),
    force = p.getBoolean("force")))
  action("MaintainedViewCatchUp", write = (p, _) => MaintainedView.catchUp(
    p.spark, p.fsOps, p.getString("table_root"), p.getString("state_root"),
    p.getSeq[String]("cdc_key_columns"), p.getSeq[String]("key_columns"),
    p.getSeq[String]("sum_columns"), p.getSeq[String]("min_columns"),
    p.getSeq[String]("max_columns")))
  action("MaintainedViewRunOnce", write = (p, _) => {
    val src = p.getString("source_dir")
    MaintainedView.runOnce(p.spark, p.spark.read.parquet(src).schema, src,
      p.getString("state_root"), p.getSeq[String]("key_columns"),
      p.getSeq[String]("sum_columns"),
      p.getStringOpt("query_name").getOrElse("maintained_view"),
      weightCol = p.getStringOpt("weight_column"),
      maxFilesPerTrigger = p.getIntOpt("max_files_per_trigger"),
      minCols = p.getSeq[String]("min_columns"),
      maxCols = p.getSeq[String]("max_columns"),
      checkpointLocation = p.getStringOpt("checkpoint_location"))
  })
  action("CorpusArtifactsCatchUp", write = (p, _) =>
    CorpusMaintenance.catchUpArtifacts(p.spark, p.fsOps,
      p.getString("corpus_root"), p.getString("artifacts_root"),
      p.getString("id_column"), p.getString("text_column"),
      p.getInt("shingle_size", 3), p.getInt("minhash_k", 32),
      buckets = p.getIntOpt("buckets")))
  transform("CorpusAdmit")((p, df) => CorpusMaintenance.admit(p.spark,
    p.fsOps, df, p.getString("corpus_root"), p.getString("artifacts_root"),
    p.getString("id_column"), p.getString("text_column"),
    p.getDouble("jaccard_threshold", 0.5), p.getInt("shingle_size", 3),
    p.getInt("minhash_k", 32), p.getInt("bands", 8)))
  action("VectorIndexCatchUp", write = (p, _) =>
    VectorIndexMaintenance.catchUpIndex(p.spark, p.fsOps,
      p.getString("embeddings_root"), p.getString("index_root"),
      p.getString("id_column"), p.getString("vector_column"), p.getInt("dim"),
      p.getInt("m", 8), p.getInt("ks", 16), p.getInt("centroids", 32),
      buckets = p.getIntOpt("buckets")))
  action("VectorIndexRebuild", write = (p, _) =>
    VectorIndexMaintenance.rebuild(p.spark, p.fsOps,
      p.getString("embeddings_root"), p.getString("index_root"),
      p.getString("id_column"), p.getString("vector_column"), p.getInt("dim"),
      p.getInt("m", 8), p.getInt("ks", 16), p.getInt("centroids", 32)))
  transform("VectorIndexStaleness")((p, df) =>
    VectorIndexMaintenance.staleness(p.spark, p.fsOps,
      p.getString("embeddings_root"), p.getString("index_root"), df,
      p.getString("id_column"), p.getString("vector_column"), p.getInt("k"),
      p.getInt("dim"), p.getInt("m", 8), p.getInt("nprobe", 4)))
  transform("VectorIndexSearch")((p, df) =>
    VectorIndexMaintenance.searchMaintained(p.spark, p.fsOps, df,
      p.getString("index_root"), p.getString("id_column"),
      p.getString("vector_column"), p.getInt("k"), p.getInt("dim"),
      p.getInt("m", 8), p.getInt("nprobe", 4)))
  // incremental view maintenance (operators/IncrementalAgg.scala): state
  // init + delta/CDC refresh
  transform("IncrementalAggInit")((p, df) => IncrementalAgg.init(df,
    p.getSeq[String]("key_columns"), p.getSeq[String]("sum_columns"),
    p.getSeq[String]("min_columns"), p.getSeq[String]("max_columns")))
  action("IncrementalAggRefresh",
    read = p => Vector(p.parquet("state_dir"), p.input("delta_dir")),
    transform = (p, dfs) => {
      val Vector(state, delta) = dfs
      val ia = IncrementalAgg
      val Seq(keys, sums, mins, maxs) = Seq("key_columns", "sum_columns",
        "min_columns", "max_columns").map(p.getSeq[String])
      val w = p.getStringOpt("weight_column")
      Vector(if (p.getBoolean("from_changes")) {
        // CDC weights come from change_type, never a caller column
        require(w.isEmpty,
          "from_changes derives row weights from change_type; " +
            "drop weight_column")
        p.getStringOpt("new_base_dir") match {
          case Some(nb) =>
            // min/max under a CDC feed: touched groups recompute
            // from the post-change base (refreshFromChangesWithRecompute)
            require(mins.nonEmpty || maxs.nonEmpty,
              "new_base_dir with from_changes exists for min/max " +
                "recompute; drop it for pure count/sum state")
            ia.refreshFromChangesWithRecompute(state, delta, p.read(nb),
              keys, sums, mins, maxs)
          case None =>
            require(mins.isEmpty && maxs.isEmpty,
              "min_columns/max_columns with from_changes need " +
                "new_base_dir (min/max are not retractable from a " +
                "CDC feed alone — the feed-touched groups recompute " +
                "from the base AFTER the change batch)")
            ia.refreshFromChanges(state, delta, keys, sums)
        }
      } else p.getStringOpt("new_base_dir") match {
        case Some(nb) => ia.refreshWithRecompute(state, delta, p.read(nb),
          keys, sums, mins, maxs, w)
        case None => ia.refresh(state, delta, keys, sums, mins, maxs, w)
      })
    },
    write = (p, dfs) => p.overwriteTarget(dfs.head))
}

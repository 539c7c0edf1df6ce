package perfbench

/** The workloads' keys, and the module each key belongs to. Modules are read
  * by reflection so that the harness compiles against any tree that keeps
  * `SparkEntry`: a module that is gone just contributes no keys.
  */
object Workloads {
  /** Module name -> the object whose `queries` map it contributes. */
  val modules: Seq[(String, String)] = Seq(
    "BeamParity" -> "graft.operators.BeamParity",
    "Relational" -> "graft.operators.Relational",
    "TpchMore" -> "graft.operators.TpchMore",
    "Multimodal" -> "graft.multimodal.Multimodal",
    "UlmTrain" -> "graft.operators.UlmTrain",
    "Ann" -> "graft.similarity.Ann",
    "QualityTrain" -> "graft.operators.QualityTrain",
    "CorpusClean" -> "graft.operators.CorpusClean",
    "Dedup" -> "graft.dedup.Dedup",
    "BpeTrain" -> "graft.operators.BpeTrain",
    "Streams" -> "graft.streaming.Streams")

  private lazy val keysOf: Map[String, Seq[String]] = modules.map { case (name, obj) =>
    val ks = try {
      val m = Class.forName(obj + "$").getField("MODULE$").get(null)
      m.getClass.getMethod("queries").invoke(m).asInstanceOf[Map[String, _]].keys.toSeq.sorted
    } catch { case _: ReflectiveOperationException => Seq.empty }
    name -> ks
  }.toMap

  def module(key: String): String =
    modules.map(_._1).find(m => keysOf(m).contains(key)).getOrElse("other")

  // The key sets are small because every run must fit the benchmark's time
  // budget on a 4-core box: set-up alone is ~13 s, and one pass over all 75
  // keys of BeamParity, Relational and TpchMore takes ~45 s warm at sf0.01.

  /** A profile, not a benchmark workload (the benchmark's run budget holds
    * two workloads): the Beam surface plus a TPC-H query, where driver
    * planning and scheduling dominate and Artifacts and Streams do no work. */
  val BeamSql: Seq[String] = Seq(
    "create_values", "pardo_map", "group_by_key", "combine_per_key", "side_dict_join",
    "sink_text_roundtrip", "q3_shipping")

  val CorpusPipeline: Seq[String] = Seq("corpus_fertility_ulm", "bpe_learned_tokens")

  val StreamingDrain: Seq[String] =
    Seq("streaming_dedup", "streaming_enrich", "streaming_type_transitions")

  /** Every artifact-building key. A profile, not a benchmark workload: one
    * run takes ~3 minutes (mm_prepare alone is ~24 s cold at sf0.01). */
  val CorpusPipelineFull: Seq[String] = Seq(
    "mm_prepare", "corpus_fertility_ulm", "ann_ivfpq_append", "ann_ivfpq_topk",
    "corpus_quality_calibration", "corpus_prepare_v2", "corpus_prepare_incremental",
    "dedup_incremental", "dedup_jaccard_pairs", "bpe_learned_tokens", "streaming_index_ingest")

  def keys(workload: String): Seq[String] = workload match {
    case "beam_sql" => BeamSql
    case "corpus_pipeline" => CorpusPipeline
    case "corpus_pipeline_full" => CorpusPipelineFull
    case "streaming_drain" => StreamingDrain
    case other => sys.error(s"unknown workload $other")
  }
}

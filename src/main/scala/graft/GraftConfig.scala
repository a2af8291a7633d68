package graft

/** Consolidated engine configuration with fail-fast validation — every
  * deployment-shaped knob (store location, at-rest precision, embedder
  * dimensionality, serving ports, sync inputs) validated in ONE place with
  * a specific message per violation, before any Spark work starts.
  *
  * Mirrors the reference's settings object, which validates its
  * backend/deployment matrix at startup and refuses to boot on an
  * inconsistent combination (readwise_vector_db/config.py:10-97 — e.g.
  * "SUPABASE_DB_URL is required when DB_BACKEND is 'supabase'"): this
  * engine's matrix is smaller (store dir + fp16 mode + ports + sync
  * inputs), but the failure discipline is the same — ALL violations are
  * collected and reported together, not first-error-wins, and the process
  * exits before touching the cluster. Values load from explicit arguments
  * or from `GRAFT_`-prefixed environment variables (case-insensitive keys,
  * like the reference's env loading).
  */
final case class GraftConfig(
    storeDir: String,
    fp16: Boolean = false,
    embedderDim: Int = GraftConfig.DefaultEmbedderDim,
    httpPort: Int = GraftConfig.DefaultHttpPort,
    mcpPort: Int = GraftConfig.DefaultMcpPort,
    pagesDir: Option[String] = None,
    checkpointDir: Option[String] = None,
    ivfIndexDir: Option[String] = None,
    pqRefine: Int = GraftConfig.DefaultPqRefine,
    nprobe: Int = GraftConfig.DefaultNprobe,
    pooledChunkWords: Option[Int] = None) {

  /** The embedder this configuration describes. */
  def embedder: graft.embed.Embedder =
    graft.embed.HashNgramEmbedder(dim = embedderDim)
}

object GraftConfig {

  val DefaultEmbedderDim = 64
  val DefaultHttpPort = 8000
  val DefaultMcpPort = 8375
  val DefaultNprobe = 4
  /** ADC shortlist factor for `--ivf-index` serving of an IVFADC
    * layout (`index --type ivfpq`): stage 2 exactly re-scores refine·k
    * fp16 rows. Read, and checked to be ≥ 2, only when the layout
    * carries codes. 64 is the measured default rung
    * (SCALE.md r11 refine ladder on the 200 k × 3072-dim fixture):
    * recall@10 0.972 — within 0.03 of the fp16 IVF probe's 1.000 at
    * the same nprobe — at p95 290 ms in a VM phase where that probe
    * ran 781 ms. refine=128 reaches exact recall parity (p95 333 ms,
    * default task stacks — the old 1280-literal In overflow is gone
    * since the chunked shortlist) for deployments that want it. */
  val DefaultPqRefine = 64

  /** `--pooled` chunk width when `--chunk-words` is omitted: 256 words
    * ≈ a few hundred tokens per chunk — small enough that every chunk
    * sits far inside the embedder's input cap (the point of pooling),
    * large enough that chunk count stays ~tokens/256. */
  val DefaultChunkWords = 256

  /** The flags each `Cli` subcommand reads — the ONE table both `Cli`
    * (which refuses an unread flag before any work) and [[resolve]]
    * (which scopes knobs by [[Command]]) read, so a flag is accepted or
    * refused the same way by both. */
  private[graft] val readFlags: Map[String, Set[String]] = {
    val config = Set("store", "embed-dim")
    val syncIn = config ++ Set("pages-dir", "ckpt", "pooled", "chunk-words")
    Map(
      "health" -> Set.empty[String],
      "sync" -> (syncIn ++ Set("backfill", "since", "fp16")),
      "refresh" -> (syncIn ++ Set("lex-index", "ivf-index")),
      "search" -> (config ++ Set("k", "source-type", "author", "tags",
        "from", "to", "hybrid", "mmr")),
      "index" -> Set("store", "out", "type", "cells", "iters", "train-every",
        "fp16", "attrs", "buckets", "pq-m", "pq-ksub", "opq-sweeps"),
      "export" -> Set("store", "out", "shard-tokens"),
      "curate" -> Set("docs", "out", "quality", "lm-threshold", "lm-store",
        "mix-alpha", "mix-frac", "shard-tokens", "report-only"),
      "serve" -> (config ++ Set("http-port", "mcp-port", "ivf-index",
        "pq-refine", "nprobe")))
  }

  /** Validate a candidate configuration; Left = every violation, each with
    * a message specific enough to fix the config without reading code. */
  def validated(config: GraftConfig): Either[List[String], GraftConfig] = {
    val errs = List.newBuilder[String]
    // matrix messages name BOTH spellings of each knob — a CLI user who
    // omitted --store must not get a message that only names the env var
    if (config.storeDir == null || config.storeDir.trim.isEmpty)
      errs += "STORE_DIR (--store / GRAFT_STORE_DIR) is required " +
        "(non-empty path to the highlight store)"
    if (config.embedderDim <= 0)
      errs += "EMBEDDER_DIM (--embed-dim / GRAFT_EMBEDDER_DIM) must be a " +
        s"positive integer, got ${config.embedderDim}"
    for ((name, flag, p) <- Seq(
        ("HTTP_PORT", "http-port", config.httpPort),
        ("MCP_PORT", "mcp-port", config.mcpPort)))
      if (p < 0 || p > 65535)
        errs += s"$name (--$flag / GRAFT_$name) must be in [0, 65535] " +
          s"(0 = ephemeral), got $p"
    if (config.httpPort != 0 && config.httpPort == config.mcpPort)
      errs += "HTTP_PORT (--http-port) and MCP_PORT (--mcp-port) must " +
        s"differ when fixed, both are ${config.httpPort}"
    if (config.pagesDir.isDefined && config.checkpointDir.isEmpty)
      errs += "CHECKPOINT_DIR (--ckpt / GRAFT_CHECKPOINT_DIR) is required " +
        "when PAGES_DIR is set (sync mode cannot track its watermark " +
        "without a checkpoint location)"
    if (config.nprobe < 1)
      errs += "NPROBE (--nprobe / GRAFT_NPROBE) must be a positive " +
        s"integer, got ${config.nprobe}"
    config.pooledChunkWords.foreach { cw =>
      if (cw < 1)
        errs += "CHUNK_WORDS (--chunk-words / GRAFT_CHUNK_WORDS) must be " +
          s"a positive word count, got $cw"
    }
    errs.result() match {
      case Nil => Right(config)
      case es  => Left(es)
    }
  }

  /** The CLI command a configuration is being resolved FOR. Each command
    * reads only the knobs it uses: `Search` never opens ports or writes,
    * so ambient `GRAFT_HTTP_PORT` garbage or a sync-workflow
    * `GRAFT_PAGES_DIR` must not make it refuse to run — while a flag the
    * command cannot honor is an ERROR (silently dropping explicit user
    * input is worse than rejecting it). */
  sealed trait Command { private[GraftConfig] def name: String }
  object Command {
    case object Sync extends Command { private[GraftConfig] val name = "sync" }
    case object Search extends Command { private[GraftConfig] val name = "search" }
    case object Serve extends Command { private[GraftConfig] val name = "serve" }
    /** Every knob in scope — ambient/full configuration loading. */
    case object All extends Command { private[GraftConfig] val name = "all" }
  }

  /** Resolve a configuration from CLI flags layered over `GRAFT_`-prefixed
    * environment entries (keys matched case-insensitively — the reference
    * accepts `deploy_target` and `DEPLOY_TARGET` alike), then validate.
    * Precedence per knob: explicit flag → env var → default, the same
    * layering the reference's settings object gives CLI args over its env
    * file. Unparseable values are reported through the same error channel
    * as matrix violations, and ALL violations come back together.
    *
    * Knob scoping by `command`: ports are read only by Serve, fp16 and
    * pages-dir/ckpt only by Sync (which also REQUIRES pages-dir — the
    * rule lives here so presence is computed in one place); store and
    * embed-dim by everything. Out-of-scope ENV vars are ignored; a FLAG
    * the command does not read ([[readFlags]]) is rejected with a
    * message. */
  def resolve(flags: Map[String, String], env: Map[String, String],
      command: Command,
      fp16Flag: Boolean = false,
      pooledFlag: Boolean = false): Either[List[String], GraftConfig] = {
    import Command._
    val norm = env.map { case (k, v) => k.toUpperCase -> v }
    def e(key: String): Option[String] = norm.get(s"GRAFT_$key")
    val errs = List.newBuilder[String]
    def str(flag: String, key: String): Option[String] =
      flags.get(flag).orElse(e(key))
    def int(flag: String, key: String, default: Int): Int =
      str(flag, key) match {
        case None => default
        case Some(v) => v.toIntOption.getOrElse {
          errs += s"$key (--$flag / GRAFT_$key) must be an integer, got '$v'"
          default
        }
      }
    val portsInScope = command == Serve || command == All
    val syncInScope = command == Sync || command == All
    // `All` is no subcommand: every knob is in scope
    for (read <- readFlags.get(command.name);
         flag <- flags.keys.toSeq.sorted if !read(flag))
      errs += s"--$flag is not a ${command.name} option"
    val fp16 = fp16Flag || (if (!syncInScope) false
    else e("FP16") match {
      case None => false
      case Some(v) => v.toLowerCase match {
        case "true" | "1"  => true
        case "false" | "0" => false
        case other =>
          errs += s"GRAFT_FP16 must be true/false, got '$other'"; false
      }
    })
    val pagesDir = if (syncInScope) str("pages-dir", "PAGES_DIR") else None
    if (command == Sync && pagesDir.isEmpty)
      errs += "PAGES_DIR is required for sync (--pages-dir)"
    // --pooled turns on chunk→embed→mean-pool ingest (the long-document
    // path); --chunk-words sizes the chunks and is meaningless without
    // it — reject the silent-drop rather than ignore explicit input
    val pooled = pooledFlag || (syncInScope && (e("POOLED") match {
      case None => false
      case Some(v) => v.toLowerCase match {
        case "true" | "1"  => true
        case "false" | "0" => false
        case other =>
          errs += s"GRAFT_POOLED must be true/false, got '$other'"; false
      }
    }))
    if (flags.contains("chunk-words") && !pooled)
      errs += "--chunk-words requires --pooled (it sizes the pooled " +
        "ingest's chunks)"
    val pooledChunkWords =
      if (pooled) Some(int("chunk-words", "CHUNK_WORDS", DefaultChunkWords))
      else None
    val candidate = GraftConfig(
      storeDir = str("store", "STORE_DIR").getOrElse(""),
      fp16 = fp16,
      embedderDim = int("embed-dim", "EMBEDDER_DIM", DefaultEmbedderDim),
      httpPort = if (portsInScope) int("http-port", "HTTP_PORT", DefaultHttpPort)
        else DefaultHttpPort,
      mcpPort = if (portsInScope) int("mcp-port", "MCP_PORT", DefaultMcpPort)
        else DefaultMcpPort,
      pagesDir = pagesDir,
      checkpointDir = if (syncInScope) str("ckpt", "CHECKPOINT_DIR") else None,
      ivfIndexDir = if (portsInScope) str("ivf-index", "IVF_INDEX_DIR")
        else None,
      pqRefine = if (portsInScope) int("pq-refine", "PQ_REFINE",
        DefaultPqRefine) else DefaultPqRefine,
      nprobe = if (portsInScope) int("nprobe", "NPROBE", DefaultNprobe)
        else DefaultNprobe,
      pooledChunkWords = pooledChunkWords)
    (errs.result(), validated(candidate)) match {
      case (Nil, v)         => v
      case (es, Left(more)) => Left(es ++ more)
      case (es, Right(_))   => Left(es)
    }
  }

  /** [[resolve]] with no flag layer and every knob in scope — pure
    * environment loading. */
  def fromEnv(env: Map[String, String]): Either[List[String], GraftConfig] =
    resolve(Map.empty, env, Command.All)

  /** Fail-fast form: throw with all messages joined — the startup path. */
  def orThrow(result: Either[List[String], GraftConfig]): GraftConfig =
    result.fold(
      es => throw new IllegalArgumentException(
        s"invalid configuration:\n  ${es.mkString("\n  ")}"),
      identity)
}

package graft

import org.apache.spark.sql.SparkSession

import graft.agent.Agent
import graft.plugins.Registries
import graft.recipe.RecipeReader

/** CLI — the reference's command surface (reference: cmd/root.go:65-74):
  * `run <recipe.yaml|dir>`, `lint <recipe>`, `list <extractors|processors|sinks>`,
  * `info <type> <name>`, `gen <template> -o <dir> -d <data.yaml>`,
  * `new recipe <name>`.
  */
object Main {

  private def session(): SparkSession =
    LocalSession(conf = Seq("spark.app.name" -> "graft"))

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: path :: rest =>
      val vars = parseVars(rest)
      val cfg = agentConfig(rest)
      val spark = session()
      if (cfg.logLevel.nonEmpty)
        // agent log levels map one tier down onto Spark's: Spark INFO is
        // already a firehose and Spark DEBUG is unusable at any scale
        spark.sparkContext.setLogLevel(cfg.logLevel.toLowerCase match {
          case "debug" => "INFO"
          case "info" => "WARN"
          case other => other.toUpperCase
        })
      val agent = graft.agent.AgentConfig.agentFor(spark, cfg)
      val results = RecipeReader.read(java.nio.file.Paths.get(path), vars)
        .map(agent.run)
      results.foreach { r =>
        val status = if (r.success) "OK " else "ERR"
        println(f"$status ${r.recipe.name}%-24s records=${r.recordCount}%-8d " +
          f"duration=${r.durationMs}ms sinks=${r.sinkCounts.map { case (k, v) => s"$k=$v" }.mkString(",")}" +
          r.error.map(e => s" error=$e").getOrElse(""))
      }
      spark.stop()
      if (results.exists(!_.success)) sys.exit(1)

    case "lint" :: path :: rest =>
      Registries.populate()
      val recipes = RecipeReader.read(java.nio.file.Paths.get(path), parseVars(rest))
      var bad = false
      recipes.foreach { r =>
        val errs = new LintOnlyAgent().validate(r)
        if (errs.isEmpty) println(s"OK  ${r.name}")
        else {
          bad = true
          // line-located lint output (cmd/lint.go:145-178)
          errs.foreach { e =>
            val loc = RecipeReader.lintLine(r, e.key)
              .map(l => s" on line: $l").getOrElse("")
            println(s"ERR ${r.name}: $e$loc")
          }
        }
      }
      if (bad) sys.exit(1)

    case "list" :: kind :: Nil =>
      Registries.populate()
      // short aliases per the reference docs: list e / list s / list p
      val infos = kind match {
        case "extractors" | "e" => Registries.extractors.list
        case "processors" | "p" => Registries.processors.list
        case "sinks" | "s" => Registries.sinks.list
        case other => sys.error(s"unknown plugin kind: $other")
      }
      infos.foreach(i => println(f"${i.name}%-12s ${i.description}"))

    case "info" :: kind :: name :: Nil =>
      Registries.populate()
      val i = kind match {
        case "extractor" => Registries.extractors.get(name).info
        case "processor" => Registries.processors.get(name).info
        case "sink" => Registries.sinks.get(name).info
        case other => sys.error(s"unknown plugin kind: $other")
      }
      println(s"${i.name}: ${i.description}")
      if (i.tags.nonEmpty) println(s"tags: ${i.tags.mkString(", ")}")
      if (i.sampleConfig.nonEmpty) println(s"sample config:\n${i.sampleConfig.linesIterator.map("  " + _).mkString("\n")}")

    // docs alias (reference/docs/reference/commands.md): `gen recipe NAME
    // -e x -s a,b [-p c]` = `new recipe`. The guard keeps a flag from
    // becoming the recipe name; a template file literally named `recipe`
    // needs a path prefix (./recipe) to reach the template form.
    case "gen" :: "recipe" :: name :: rest if !name.startsWith("-") =>
      main(("new" :: "recipe" :: name :: rest).toArray)

    // read-only invariant audit of a persisted index layout (bm25/bm25f/
    // chunk, ivf, pq2 codes, vector, winnow, nb) — the cheap "is this
    // store internally consistent" answer operators need around staged
    // mutations. Exit 1 when any invariant fails.
    case "fsck" :: path :: Nil =>
      val spark = session()
      val findings = graft.operators.Fsck.audit(spark, path)
      findings.foreach { fd =>
        val status = if (fd.ok) "OK " else "ERR"
        println(f"$status [${fd.layout}] ${fd.check}%-28s ${fd.detail}")
      }
      spark.stop()
      if (findings.exists(!_.ok)) sys.exit(1)

    case "version" :: Nil =>
      // keep in lockstep with `ThisBuild / version` in build.sbt
      println("graft 0.1.0 (meteor v1beta1-compatible)")

    // reference cmd/gen.go: expand a recipe template once per data entry
    //   gen template.yaml --output dir --data data.yaml
    case "gen" :: template :: rest =>
      val flags = parseFlags(rest)
      val outDir = flags.getOrElse("--output",
        flags.getOrElse("-o", sys.error("gen: --output <dir> is required")))
      val dataPath = flags.getOrElse("--data",
        flags.getOrElse("-d", sys.error("gen: --data <file.yaml> is required")))
      val written = RecipeReader.fromTemplate(
        java.nio.file.Paths.get(template),
        java.nio.file.Paths.get(outDir),
        java.nio.file.Paths.get(dataPath))
      written.foreach(p => println(s"generated $p"))

    case "new" :: "recipe" :: name :: rest =>
      // `new recipe NAME [-e extractor] [-s sink,...] [-p proc,...]`:
      // missing flags fall back to an interactive survey over the
      // registered plugins (reference: cmd/new.go:31-102)
      Registries.populate()
      val flags = parseFlags(rest)
      val extractor = flags.getOrElse("-e",
        survey("Select extractor", Registries.extractors.list.map(_.name), multi = false).head)
      val sinkList = flags.get("-s").map(_.split(",").map(_.trim).toSeq)
        .getOrElse(survey("Select sink(s)", Registries.sinks.list.map(_.name), multi = true))
      val procList = flags.get("-p").map(_.split(",").map(_.trim).toSeq)
        .getOrElse(survey("Select processor(s)", Registries.processors.list.map(_.name),
          multi = true, required = false))
      print(generateRecipe(name, extractor, sinkList, procList))

    case _ =>
      println(
        """usage: graft <command>
          |  run  <recipe.yaml|dir> [--var k=v|file.yaml ...] [--config meteor.yaml]  execute recipes
          |  lint <recipe.yaml|dir> [--var ...]       validate without executing
          |  list <extractors|processors|sinks|e|p|s> list plugins
          |  info <extractor|processor|sink> <name>   plugin details
          |  gen  <template.yaml> -o <dir> -d <data.yaml>  expand a recipe template per data entry
          |  gen recipe <name> [-e x] [-s a,b]        alias of `new recipe`
          |  new recipe <name> [-e x] [-s a,b] [-p a,b]  bootstrap a recipe (survey when flags omitted)
          |  fsck <store-path>                        audit a persisted index's invariants (read-only)
          |  version                                  print the version""".stripMargin)
      sys.exit(2)
  }

  /** Recipe YAML from plugin sample configs (reference:
    * generator/recipe.go:31-79 — name + version + source/processors/sinks
    * each with their registered sample config block).
    */
  def generateRecipe(name: String, source: String, sinks: Seq[String],
                     processors: Seq[String]): String = {
    def indent(s: String, n: Int): String =
      s.linesIterator.map(" " * n + _).mkString("\n")
    val sb = new StringBuilder
    sb ++= s"name: $name\nversion: v1beta1\n"
    val src = Registries.extractors.get(source).info
    sb ++= s"source:\n  name: $source\n"
    if (src.sampleConfig.nonEmpty)
      sb ++= "  config:\n" + indent(src.sampleConfig, 4) + "\n"
    if (processors.nonEmpty) {
      sb ++= "processors:\n"
      processors.foreach { p =>
        val info = Registries.processors.get(p).info
        sb ++= s"  - name: $p\n"
        if (info.sampleConfig.nonEmpty)
          sb ++= "    config:\n" + indent(info.sampleConfig, 6) + "\n"
      }
    }
    sb ++= "sinks:\n"
    sinks.foreach { sk =>
      val info = Registries.sinks.get(sk).info
      sb ++= s"  - name: $sk\n"
      if (info.sampleConfig.nonEmpty)
        sb ++= "    config:\n" + indent(info.sampleConfig, 6) + "\n"
    }
    sb.result()
  }

  /** Survey prompt (cmd/new.go:109-161 analogue, stdin/stderr instead of a
    * TUI): prints the option list to stderr, reads a comma-separated
    * selection from stdin. Empty input = all-optional none (or re-asks when
    * required).
    */
  private def survey(message: String, options: Seq[String], multi: Boolean,
                     required: Boolean = true): Seq[String] = {
    while (true) {
      System.err.println(s"$message ${if (multi) "(comma-separated)" else ""}:")
      options.sorted.foreach(o => System.err.println(s"  - $o"))
      val raw = scala.io.StdIn.readLine()
      if (raw == null) // stdin closed (non-interactive run): abort, don't spin
        sys.error(s"$message: no input (use -e/-s/-p flags in non-interactive mode)")
      val picked = raw.trim.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val unknown = picked.filterNot(options.contains)
      if (unknown.nonEmpty)
        System.err.println(s"unknown: ${unknown.mkString(", ")}")
      else if (picked.isEmpty && required)
        System.err.println("a selection is required")
      else if (!multi && picked.length > 1)
        System.err.println("select exactly one")
      else return picked
    }
    Nil
  }

  /** `--var` accepts either `k=v` (inline) or a path to a yaml var-file
    * (the reference's only form, cmd/run.go:133 + recipe/envs.go:15-35).
    * Precedence: inline k=v > var-file > `METEOR_`/`GRAFT_` env (the env
    * fallback happens inside RecipeReader.render; file-beats-env matches
    * envs.go:27-33).
    */
  private[graft] def parseVars(args: List[String]): Map[String, String] = {
    val values = args.sliding(2, 2).collect {
      case "--var" :: v :: Nil => v
    }.toList
    val (inline, files) = values.partition(_.contains("="))
    val fromFiles = files.foldLeft(Map.empty[String, String]) { (acc, f) =>
      acc ++ RecipeReader.loadVarFile(java.nio.file.Paths.get(f))
    }
    fromFiles ++ inline.map { kv =>
      val Array(k, v) = kv.split("=", 2)
      // same lowercasing as loadVarFile: template lookups are on the
      // lowercased key, and an inline `--var SRC_PATH=x` must actually
      // override a var-file's `src_path`
      k.toLowerCase -> v
    }
  }

  /** Agent config: `--config file.yaml` (explicit: must exist) or the
    * default `./meteor.yaml` probe (missing is fine), env always winning
    * (reference: cmd/run.go:60-66,134 + config/config.go:21-31).
    */
  private def agentConfig(args: List[String]): graft.agent.AgentConfig = {
    val explicit = args.sliding(2, 2).collectFirst {
      case "--config" :: p :: Nil => java.nio.file.Paths.get(p)
    }
    graft.agent.AgentConfig.load(
      explicit.orElse(Some(java.nio.file.Paths.get("./meteor.yaml"))),
      explicitFile = explicit.isDefined)
  }

  private def parseFlags(args: List[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case flag :: value :: Nil if flag.startsWith("-") => flag -> value
    }.toMap

  /** validate() needs no SparkSession; tiny shim to avoid creating one. */
  private class LintOnlyAgent {
    def validate(r: graft.recipe.Recipe) = {
      Registries.populate()
      new Agent(null).validate(r)
    }
  }
}

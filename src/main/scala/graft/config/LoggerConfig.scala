package graft.config

import scala.util.matching.Regex

/** Field rules for one event type (`log_fields` entry,
  * `input_habit_logger_config.lua`): which fields survive the write-time
  * projection, and — for `input_state_changed` — which subtypes are
  * allowed at all. NOTE the reference quirk: the subtype allow-list
  * (`field_rules.event_subtype`) is absent from every shipped preset, so
  * step 4 of the cascade (`input_habit_logger.lua:143-148`) drops ALL
  * input_state_changed events even when `log_events` enables them. An
  * empty `subtypeAllowList` reproduces that faithfully. */
final case class EventFieldRules(fields: Set[String],
                                 subtypeAllowList: Set[String] = Set.empty)

/** One logger preset (`input_habit_logger_config.lua:21-175`). */
final case class LoggerPreset(
    name: String,
    enabled: Boolean,
    logOnlyNonFirstChoice: Boolean,
    logEvents: Map[String, Boolean],
    logFields: Map[String, EventFieldRules],
    logFilePath: Option[String] = None)

/** Config layer: the three shipped presets plus the reference's
  * config-file parsing for source resolution (SURVEY §2.1 S3). */
object LoggerConfig {

  private val allEvents = Map(
    "session_start" -> true, "session_end" -> true,
    "text_committed" -> true, "input_state_changed" -> true,
    "error" -> true)

  /** `input_habit_logger_config.lua:36-43` (normal). */
  val Normal: LoggerPreset = LoggerPreset(
    name = "normal", enabled = true, logOnlyNonFirstChoice = false,
    logEvents = allEvents + ("input_state_changed" -> false),
    logFields = Map("text_committed" -> EventFieldRules(Set(
      "selected_candidate_rank", "committed_text",
      "source_first_candidate"))))

  /** `input_habit_logger_config.lua:49-79` (developer). */
  val Developer: LoggerPreset = LoggerPreset(
    name = "developer", enabled = true, logOnlyNonFirstChoice = true,
    logEvents = allEvents,
    logFields = Map(
      "text_committed" -> EventFieldRules(Set(
        "selected_candidate_rank", "committed_text",
        "input_sequence_at_commit", "selection_method",
        "source_input_buffer", "source_first_candidate")),
      "input_state_changed" -> EventFieldRules(Set(
        "key_action", "input_buffer", "first_candidate", "has_menu"))))

  /** `input_habit_logger_config.lua:85-116` (advanced). */
  val Advanced: LoggerPreset = LoggerPreset(
    name = "advanced", enabled = true, logOnlyNonFirstChoice = false,
    logEvents = allEvents,
    logFields = Map(
      "text_committed" -> EventFieldRules(Set(
        "selected_candidate_rank", "committed_text",
        "input_sequence_at_commit", "selection_method",
        "source_input_buffer", "source_first_candidate",
        "source_candidates_list")),
      "input_state_changed" -> EventFieldRules(Set(
        "key_action", "input_buffer", "candidates", "first_candidate",
        "has_menu"))))

  private val presetChoiceRe: Regex =
    """local\s+preset_choice\s*=\s*"([^"]+)"""".r

  /** Active preset name from the Lua config text
    * (`manager.go:126-133`, `cli.py:69`). */
  def parseActivePreset(configText: String): Option[String] =
    presetChoiceRe.findFirstMatchIn(configText).map(_.group(1))

  /** Resolve the log source path: active preset's un-commented
    * `log_file_path` override, else the default
    * (`manager.go:108-159`, `cli.py:51-101`). */
  def resolveLogPath(configText: String, defaultPath: String): String = {
    val resolved = for {
      preset <- parseActivePreset(configText)
      blockRe = new Regex(
        """(?m)^\s*""" + Regex.quote(preset) + """\s*=\s*\{([\s\S]*?)\n\s*\}""")
      block <- blockRe.findFirstMatchIn(configText).map(_.group(1))
      pathRe = """(?m)^\s*log_file_path\s*=\s*"([^"]+)"""".r
      path <- pathRe.findFirstMatchIn(block).map(_.group(1))
      unescaped = path.replace("\\\\", "\\") if unescaped.nonEmpty
    } yield unescaped
    resolved.getOrElse(defaultPath)
  }
}

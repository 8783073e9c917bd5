package graft.logs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{NonBlankLine, ParseAccessLog}

/** Raw access-log lines → typed 19-column DataFrame, as Catalyst
  * expressions (whole-stage-codegen friendly, no UDFs, no Python/RDD hop).
  *
  * Grammar: the 18-group regex of the reference
  * (`scripts/oss_s3_server_side_logging_compacter.py:21-25`), translated
  * Python→Java (named groups dropped; applied unanchored, matching
  * `re.search` — `Matcher.find`).
  *
  * Semantics preserved bit-for-bit (reference `:45-100`):
  *   - unparseable line → 18 nulls + `error_line` = raw text;
  *   - `'-'` sentinel → null for `key`, `http_status`, `error_code`,
  *     `bytes_sent`, `object_size`, `total_time`, `turn_around_time`,
  *     `version_id`; the 3-char `'"-"'` sentinel for `referrer`/`user_agent`;
  *     `request` is never nulled and keeps its surrounding quotes;
  *   - `version_id` captures exactly ONE non-space code point
  *     (`(?P<version>\S)`, a reference quirk kept for fidelity);
  *   - timestamp: text between `[` and the first space, parsed as
  *     `dd/MMM/yyyy:HH:mm:ss` in the session time zone; the `+0000` offset
  *     is discarded (reference `:37-42` slices it off before parsing);
  *     parse failure → null (reference returns None on exception).
  */
object LogLineParser {

  /** Java translation of S3_ACCESS_LOG_PATTERN (reference `:21-25`). */
  val Pattern: String =
    """(\S+) (\S+) (\[[^\]]*\]) (\S+) (\S+) (\S+) (\S+) (\S+) ("[^"]*"|-) """ +
    """(\S+) (\S+) (\S+) (\S+) (\S+) (\S+) ("[^"]*"|-) ("[^"]*"|-) (\S)"""

  /** The reference's `request_time` format (`:37-42`). */
  val TimeFormat: String = "dd/MMM/yyyy:HH:mm:ss"

  /** Parse a one-string-column DataFrame (default column `value`, as
    * produced by `spark.read.text`) into the canonical 19-column frame.
    *
    * Physical shape: one projection runs the [[graft.functions.ParseAccessLog]]
    * kernel (one byte walk per line → the typed struct), a second one
    * expands its fields. The struct is referenced 19× by the expansion, so
    * CollapseProject keeps the two apart and the kernel runs once per
    * line; a filter pushed below it shares one evaluation with the
    * projection ([[graft.plans.DedupFilterSubexprs]]).
    */
  def parse(raw: DataFrame, lineCol: String = "value"): DataFrame = {
    val kernel = ParseAccessLog(ColumnBridge.expression(col(lineCol)))
    raw.select(ColumnBridge.column(kernel).as("_parsed")).select("_parsed.*")
  }

  /** Drop blank / whitespace-only lines before parsing (reference
    * `s3_read_file` strips each line and skips empties, `:165-167`).
    * Blank means no character outside Java regex `\s` — Python's strip()
    * strips all whitespace, Spark's trim only spaces — tested on the bytes
    * with the whitespace class the kernel's walk uses.
    */
  def dropBlankLines(raw: DataFrame, lineCol: String = "value"): DataFrame =
    raw.filter(ColumnBridge.column(NonBlankLine(ColumnBridge.expression(col(lineCol)))))
}

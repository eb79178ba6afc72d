package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure column functions over object/file names and dates — the reference's
  * projection + scalar surface (SURVEY.md §2.2/§2.3), expressed as
  * codegen-friendly built-in compositions (no UDFs).
  */
object NameFunctions {

  /** P9 — `filepath.Base(name)` (`/root/reference/embargo.go:161`). */
  def basename(c: Column): Column = element_at(split(c, "/"), -1)

  /** P10 — private-copy rename `.tgz` → `-e.tgz`, ALL occurrences, matching
    * `strings.Replace(name, ".tgz", "-e.tgz", -1)` (`/root/reference/embargo.go:105`).
    */
  def privateName(c: Column): Column = regexp_replace(c, "\\.tgz", "-e.tgz")

  /** P11 — `sidestream/yyyy/mm/dd` prefix from a `yyyymmdd` string
    * (`/root/reference/embargo.go:266`, `/root/reference/unembargo.go:160`).
    */
  def dayPrefix(dateStr: Column): Column =
    concat_ws("/", lit("sidestream"),
      substring(dateStr, 1, 4), substring(dateStr, 5, 2), substring(dateStr, 7, 2))

  /** P11 on the driver — the same `sidestream/yyyy/mm/dd` prefix from a
    * `yyyymmdd` int, for the callers that address a day's store dir.
    */
  def dayPrefix(dateInt: Int): String =
    f"sidestream/${dateInt / 10000}%04d/${dateInt / 100 % 100}%02d/${dateInt % 100}%02d"

  /** F2 — first 8 chars of a basename = `yyyymmdd`
    * (`/root/reference/filename_parser.go:31-33`).
    */
  def fileDate(name: Column): Column = substring(name, 1, 8)

  /** F5 — date string → int, null on malformed (reference's Atoi error path,
    * `/root/reference/embargo.go:272-276`). The cast is guarded by a digit
    * check so non-date names yield null instead of an ANSI cast error
    * (Spark 4 defaults to ANSI mode).
    */
  def fileDateInt(name: Column): Column =
    when(fileDate(name).rlike("^[0-9]{8}$"), fileDate(name).cast("int"))

  /** F3 — `FormatDateAsInt`: `y*10000 + m*100 + d`
    * (`/root/reference/embargo_check.go:24-26`).
    */
  def formatDateAsInt(t: Column): Column =
    (year(t) * 10000 + month(t) * 100 + dayofmonth(t)).cast("int")

  /** F4 — one-year embargo cutoff as a `yyyymmdd` int, from any timestamp
    * (`time.Now().AddDate(-1,0,0)`, `/root/reference/embargo.go:313`).
    */
  def cutoffDateInt(now: Column): Column = formatDateAsInt(add_months(now, -12))

  /** F6 — base64-encoded `gs://` URL param decode
    * (`/root/reference/deploy/deploy.go:32-37`).
    */
  def decodeBase64Path(c: Column): Column = unbase64(c).cast("string")

  /** F7 — split `gs://bucket/object/path` into its bucket
    * (`/root/reference/deploy/deploy.go:40-42`).
    */
  def gsBucket(c: Column): Column = regexp_extract(c, "gs://([^/]+)/(.*)", 1)

  /** F7 — split `gs://bucket/object/path` into its object path. */
  def gsObject(c: Column): Column = regexp_extract(c, "gs://([^/]+)/(.*)", 2)

  /** P1 — sidestream-archive name filter: contains both `tgz` and `sidestream`
    * (`/root/reference/embargo.go:279-281`).
    */
  def isSidestreamArchive(name: Column): Column =
    name.contains("tgz") && name.contains("sidestream")
}

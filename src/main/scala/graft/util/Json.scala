package graft.util

import com.fasterxml.jackson.core.io.JsonStringEncoder

/** The one JSON string escaper, for the hand-built JSON the mains write
  * (Bench, Profile, Verify's `oracle_sql.json`). It escapes quotes,
  * backslashes and every control character: one raw tab or CR in a
  * query's SQL would make `oracle_sql.json` unparseable.
  */
object Json {

  /** `s` as a quoted JSON string literal. */
  def quote(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance().quoteAsString(s)) + "\""
}

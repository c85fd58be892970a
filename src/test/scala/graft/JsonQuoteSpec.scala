package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one JSON string quoter (Serve's error and /diag bodies, Verify's
  * oracle_sql.json): every character JSON forbids raw is escaped. */
class JsonQuoteSpec extends AnyFunSuite {
  test("quotes, backslashes and every control character are escaped") {
    assert(Serve.jsonQuote("a\"b") == "\"a\\\"b\"")
    assert(Serve.jsonQuote("a\\b") == "\"a\\\\b\"")
    assert(Serve.jsonQuote("a\nb\rc\td") == "\"a\\nb\\rc\\td\"")
    assert(Serve.jsonQuote("a\u0001b\u001fc") == "\"a\\u0001b\\u001fc\"")
    assert(Serve.jsonQuote("plain ü ☃") == "\"plain ü ☃\"")
  }

  test("null quotes as the empty string") {
    assert(Serve.jsonQuote(null) == "\"\"")
  }
}

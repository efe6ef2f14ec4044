package graft

/** The sf0.001 test tables (TESTDATA.md), by their one absolute path:
  * every suite reads them there, whatever directory it runs from.
  */
object TestData {
  val Sf0001 = "/root/testdata/sf0.001"
}

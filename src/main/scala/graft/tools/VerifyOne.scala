package graft.tools

/** Verify a NAMED SUBSET of queries — `graft.Verify` with query-name
  * prefixes (same dump format); the loop behind scripts/spot_check.py.
  * Usage: runMain graft.tools.VerifyOne <sfDir> <outDir> <query> [...]
  */
object VerifyOne {
  def main(args: Array[String]): Unit = graft.Verify.main(args)
}

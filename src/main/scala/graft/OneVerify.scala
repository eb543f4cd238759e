package graft
/** Dump ONE query + its oracle for a quick compare:
  * runMain graft.OneVerify <name> <sfDir> <outDir>. */
object OneVerify {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, outDir) = args
    Verify.dump(sfDir, outDir, Seq(name))
  }
}

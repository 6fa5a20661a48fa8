package graft.spark

/** Where the specs read the scale-factor corpora (see TESTDATA.md):
  * `GRAFT_TESTDATA_DIR`, else `/root/testdata` when it is a directory. */
object TestData {
  lazy val root: String = sys.env.get("GRAFT_TESTDATA_DIR").getOrElse {
    val d = "/root/testdata"
    require(new java.io.File(d).isDirectory,
      "no test data: set GRAFT_TESTDATA_DIR to the directory holding sf0.001 and sf0.01")
    d
  }

  /** `path` under [[root]], e.g. `TestData("sf0.01")`. */
  def apply(path: String): String = s"$root/$path"
}

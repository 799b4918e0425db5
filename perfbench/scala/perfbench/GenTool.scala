package perfbench

import java.io.File

/** Writes the first `n` days of dicom_ingest's seeded archive and prints
  * their digest: `GenTool <seed> <dir> <n>`. The benchmark's tests pin
  * that a seed fixes every byte and that another seed changes them. */
object GenTool {
  def main(args: Array[String]): Unit = {
    val Array(seed, dir, n) = args
    val root = new File(dir)
    root.mkdirs()
    val a = new DicomArchive(seed.toLong)
    (0 until n.toInt).foreach(d => a.day(root, d))
    println(Digest.ofDir(root))
  }
}

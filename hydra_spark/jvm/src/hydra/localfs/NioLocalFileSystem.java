package hydra.localfs;

import java.io.IOException;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;

/**
 * The checksummed {@code file://} FileSystem over {@link NioRawLocalFileSystem}.
 * It replaces the class Spark's bundled hive-exec registers for
 * {@code file://}, Hive's {@code ProxyLocalFileSystem}: a stock
 * {@code LocalFileSystem} whose rename refuses an existing destination
 * file. That rule is kept.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }

  @Override
  @SuppressWarnings("deprecation")  // isFile: the call Hive's rule makes
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }
}
